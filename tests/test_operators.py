"""Unit tests for the operator library on small synthetic frames.

Mirrors the reference's test strategy (SURVEY §5): synthetic in-memory
events with known expected outputs, one test per operator semantics.
"""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from openseizuredatabase_spark.operators import (
    aggregates as agg_ops,
    dedup as dedup_ops,
    filters as filter_ops,
    joins as join_ops,
    splits as split_ops,
    windows as window_ops,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: three rows inside one 3-min bucket, one far away
        Row(id=1, user="u1", typ="seizure", t=ts("2024-01-01 00:00:10"), val=10.0, state=0),
        Row(id=2, user="u1", typ="seizure", t=ts("2024-01-01 00:01:00"), val=20.0, state=2),
        Row(id=3, user="u1", typ="seizure", t=ts("2024-01-01 00:02:30"), val=30.0, state=0),
        Row(id=4, user="u1", typ="seizure", t=ts("2024-01-01 01:00:00"), val=40.0, state=0),
        # user 2: gap pattern 5s,5s,20s,5s
        Row(id=5, user="u2", typ="fall", t=ts("2024-01-01 00:00:00"), val=1.0, state=0),
        Row(id=6, user="u2", typ="fall", t=ts("2024-01-01 00:00:05"), val=2.0, state=0),
        Row(id=7, user="u2", typ="fall", t=ts("2024-01-01 00:00:25"), val=3.0, state=0),
        Row(id=8, user="u2", typ="fall", t=ts("2024-01-01 00:00:30"), val=4.0, state=0),
    ]
    return spark.createDataFrame(rows)


def test_filter_builder_compiles_to_single_predicate(events):
    spec = {
        "include": {"typ": ["seizure"]},
        "exclude": {"user": ["u9"]},
        "between": {"val": (15, 45)},
    }
    out = filter_ops.apply_filter(events, spec)
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]


def test_filter_contains_case_insensitive(events):
    out = filter_ops.apply_filter(events, {"contains": {"typ": ["SEIZ"]}})
    assert out.count() == 4


def test_unique_group_representative_alarm_precedence(events):
    # D1: within u1's 00:00-00:03 bucket, row id=2 has state==2 (ALARM) and
    # must win despite not being first (makeOsdDb.py:193-219 precedence)
    prec = F.when(F.col("state") == 2, 0).otherwise(1)
    out = dedup_ops.unique_group_representative(
        events, ["user", "typ"], "t", 180, prec, "id"
    )
    reps = {(r.user, r.bucket_start): (r.id, r.n_rows) for r in out.collect()}
    bucket0 = (
        int(ts("2024-01-01 00:00:00").replace(tzinfo=dt.timezone.utc).timestamp())
    )
    assert reps[("u1", bucket0)] == (2, 3)


def test_gap_clusters_and_representative(events):
    # D2: u2 with 10s threshold → clusters {5,6}, {7,8}; max-val rep wins
    clustered = dedup_ops.gap_clusters(events.filter("user='u2'"), ["user"], "t", 10)
    ids = {r.id: r.cluster_id for r in clustered.collect()}
    assert ids == {5: 0, 6: 0, 7: 1, 8: 1}
    best = dedup_ops.cluster_representative(
        clustered, ["user"], [F.col("val").desc()]
    )
    assert sorted((r.id, r.cluster_n) for r in best.collect()) == [(6, 2), (8, 2)]


def test_gap_fill_rows_count(spark):
    # W3: 5s grid; gap of 17s > 7s threshold → floor(17/5)=3 filler rows
    rows = [
        Row(user="u", t=ts("2024-01-01 00:00:00")),
        Row(user="u", t=ts("2024-01-01 00:00:17")),
    ]
    out = window_ops.gap_fill_rows(
        spark.createDataFrame(rows), ["user"], "t", 5, 7
    ).collect()
    epochs = sorted(r.fill_epoch for r in out)
    base = int(ts("2024-01-01 00:00:00").replace(tzinfo=dt.timezone.utc).timestamp())
    assert epochs == [base + 5, base + 10, base + 15]


def test_drop_overlaps(spark):
    rows = [
        Row(user="u", t=ts("2024-01-01 00:00:00")),
        Row(user="u", t=ts("2024-01-01 00:00:01")),  # 1s after → overlap
        Row(user="u", t=ts("2024-01-01 00:00:06")),
    ]
    out = window_ops.drop_overlaps(spark.createDataFrame(rows), ["user"], "t", 3)
    assert out.count() == 2


def test_gap_census(events):
    out = window_ops.gap_census(
        events.filter("user='u2'"), ["user"], "t", 10, 5
    ).collect()[0]
    assert out.n_gaps == 1  # the 20s hop
    assert out.n_extras == 0
    assert out.n_rows == 4


def test_feature_history_drops_warmup_rows(events):
    out = window_ops.feature_history(
        events.filter("user='u1'"), ["user"], "t", ["val"], 3
    )
    rows = {r.id: (r.val_t0, r.val_t1, r.val_t2, r.val_mean) for r in out.collect()}
    assert set(rows) == {3, 4}
    assert rows[3] == (30.0, 20.0, 10.0, 20.0)
    assert rows[4] == (40.0, 30.0, 20.0, 30.0)


def test_moving_average_ignores_sentinel(spark):
    rows = [
        Row(user="u", t=ts("2024-01-01 00:00:00"), hr=60.0),
        Row(user="u", t=ts("2024-01-01 00:00:05"), hr=-1.0),
        Row(user="u", t=ts("2024-01-01 00:00:10"), hr=80.0),
    ]
    out = window_ops.moving_average(
        spark.createDataFrame(rows), ["user"], "t", "hr", 3, missing_sentinel=-1.0
    )
    last = out.orderBy("t").collect()[-1]
    assert last.mov_avg == 70.0  # (60+80)/2, sentinel skipped


def test_epoch_windows(spark):
    rows = [
        Row(user="u", t=ts("2024-01-01 00:00:00") + dt.timedelta(seconds=5 * i), v=float(i))
        for i in range(10)
    ]
    out = window_ops.epoch_windows(
        spark.createDataFrame(rows), ["user"], "t", "v", 4, 2
    ).collect()
    got = {r.epoch_start_rn: (r.win_avg, r.win_n) for r in out}
    # windows of 4 every 2 rows: starts at rn-1 = 0,2,4,6 (rn+3<=10)
    assert set(got) == {0, 2, 4, 6}
    assert got[0] == (1.5, 4)
    assert got[6] == (7.5, 4)


def test_confusion_and_metrics(spark):
    rows = [Row(label=l, pred=p) for l, p in
            [(1, 1)] * 8 + [(1, 0)] * 2 + [(0, 1)] * 3 + [(0, 0)] * 7]
    cm = agg_ops.confusion_matrix(
        spark.createDataFrame(rows), F.col("label") == 1, F.col("pred") == 1
    )
    m = agg_ops.derived_metrics(cm).collect()[0]
    assert (m.ntp, m.nfp, m.ntn, m.nfn) == (8, 3, 7, 2)
    assert m.tpr == 0.8
    assert m.tnr == 0.7


def test_presence_flags_threshold(events):
    out = agg_ops.presence_flags(
        events, ["user"], F.col("val") >= 20, "mostly_big", 0.5
    )
    flags = {r.user: r.mostly_big for r in out.collect()}
    assert flags == {"u1": True, "u2": False}


def test_snapshot_merge_prefers_first_source(spark):
    a = spark.createDataFrame([Row(k=1, v="a1"), Row(k=2, v="a2")])
    b = spark.createDataFrame([Row(k=2, v="b2"), Row(k=3, v="b3")])
    out = join_ops.snapshot_merge([("a", a), ("b", b)], "k", ["a", "b"])
    got = {r.k: (r.v, r.src) for r in out.collect()}
    assert got == {1: ("a1", "a"), 2: ("a2", "a"), 3: ("b3", "b")}


def test_modulo_folds_partition_all_rows(events):
    out = split_ops.modulo_folds(events, "id", 3)
    folds = [r.fold for r in out.collect()]
    assert all(0 <= f < 3 for f in folds)
    assert len(folds) == 8


def test_balance_classes_factors(spark):
    rows = [Row(id=i, label=1) for i in range(2)] + [
        Row(id=10 + i, label=0) for i in range(7)
    ]
    out = split_ops.balance_classes(spark.createDataFrame(rows), "id", "label")
    counts = {r.label: r.n for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 7, 1: 6}  # minority 2 × floor(7/2)=3 copies
    # copy ids follow the reference's `{id}-{n}` convention (C20)
    sample = out.filter("label = 1").select("copy_id").collect()
    assert {r.copy_id for r in sample} == {"0-0", "0-1", "0-2", "1-0", "1-1", "1-2"}


def test_train_test_split_disjoint(events):
    tr, te = split_ops.train_test_split(events, "id", 0.4, seed=7)
    tr_ids = {r.id for r in tr.collect()}
    te_ids = {r.id for r in te.collect()}
    assert tr_ids | te_ids == set(range(1, 9))
    assert not (tr_ids & te_ids)


def test_hash_split_layout_invariant(events):
    tr, te = split_ops.hash_split(events, "id", 0.4, seed=7)
    tr_ids = {r.id for r in tr.collect()}
    te_ids = {r.id for r in te.collect()}
    assert tr_ids | te_ids == set(range(1, 9))
    assert not (tr_ids & te_ids)
    # the whole point vs randomSplit: assignment survives repartitioning
    tr2, te2 = split_ops.hash_split(events.repartition(7), "id", 0.4, seed=7)
    assert {r.id for r in tr2.collect()} == tr_ids
    assert {r.id for r in te2.collect()} == te_ids
    # and a different seed actually reshuffles membership
    tr3, _ = split_ops.hash_split(events, "id", 0.4, seed=8)
    assert {r.id for r in tr3.collect()} != tr_ids or len(tr_ids) in (0, 8)


def test_salted_aggregate_matches_plain(spark, events):
    from openseizuredatabase_spark.operators.skew import salted_aggregate

    salted = salted_aggregate(
        events,
        ["user"],
        {
            "total": ("sum", F.col("val")),
            "n": ("count", F.lit(1)),
            "vmax": ("max", F.col("val")),
        },
        n_salts=4,
    )
    plain = events.groupBy("user").agg(
        F.sum("val").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.max("val").alias("vmax"),
    )
    got = {r.user: (r.total, r.n, r.vmax) for r in salted.collect()}
    expect = {r.user: (r.total, r.n, r.vmax) for r in plain.collect()}
    assert got == expect


def test_winnow_fingerprints_guarantee(spark):
    # Schleimer et al. guarantee: a shared substring of length >= w+k-1
    # (= 8 for k=5, w=4) must contribute at least one common fingerprint
    from openseizuredatabase_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps"
    df = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"XXXXXX {shared} YYY"),
            (3, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in winnow_fingerprints(df).collect()}
    assert fps[1] & fps[2], "docs sharing a long substring share a fingerprint"
    # per-window minima are a subset of all gram hashes, deduped
    assert len(fps[1]) <= len(f"aaaa {shared} bbbb") - 5 + 1
    # short docs (< k+w-1 chars) are dropped entirely
    short = spark.createDataFrame([(9, "abcdefg")], "doc_id long, text string")
    assert winnow_fingerprints(short).count() == 0


def test_winnow_fingerprints_window_min_semantics(spark):
    # fingerprints == distinct sliding-window minima computed by hand
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long
    from openseizuredatabase_spark.operators.dedup import winnow_fingerprints
    from pyspark.sql import functions as F

    text = "abcdefghij"
    k, w = 5, 4
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    hs = [
        r["h"]
        for r in spark.createDataFrame([(g,) for g in grams], "g string")
        .select(seeded_md5_long(F.col("g"), 11).alias("h"))
        .collect()
    ]
    expected = {min(hs[i - w + 1 : i + 1]) for i in range(w - 1, len(hs))}
    got = set(winnow_fingerprints(df, k=k, w=w).collect()[0]["fps"])
    assert got == expected


def test_connected_components_chain_and_clique(spark):
    from openseizuredatabase_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            # a 4-chain (worst case for propagation: not a clique)
            (1, 2), (2, 3), (3, 4),
            # a separate triangle
            (10, 11), (11, 12), (10, 12),
            # an isolated pair
            (20, 21),
        ],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11, 12)} == {10}
    assert {got[i] for i in (20, 21)} == {20}
    assert len(got) == 9


def test_connected_components_long_path_converges(spark):
    from openseizuredatabase_spark.operators.dedup import connected_components

    # a 12-node path exercises multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "id_a long, id_b long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 12


def _cc_labels(pairs):
    cc = dedup_ops.connected_components(pairs)
    return {r["id"]: r["comp"] for r in cc.collect()}


def test_connected_components_long_path_forced_loop(spark, monkeypatch):
    """The finisher and the star-contraction loop (forced by a cap of
    -1) must both return the exact union-find labels on a long path —
    deeper than any fixed round budget a loop could stop at — plus a
    triangle with a reversed duplicate, a pair in both orientations and
    a self-loop-only node."""
    edges = (
        [(i, i + 1) for i in range(300, 340)]  # 41-node path
        + [(1, 2), (2, 3), (1, 3), (3, 1)]  # triangle + reversed dup
        + [(50, 51), (51, 50)]  # pair, both orientations
        + [(77, 77)]  # self-loop only: isolated node
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = dedup_ops._driver_cc_labels(edges)
    assert len(want) == 41 + 3 + 2 + 1
    assert _cc_labels(pairs) == want
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", -1)
    assert _cc_labels(pairs) == want


def test_connected_components_driver_finisher_matches_distributed(
    spark, monkeypatch
):
    """The driver union-find finisher (at or under _CC_DRIVER_EDGE_CAP)
    and the distributed star-contraction loop must return identical
    labels — node set, self-loop-only nodes and string ids included —
    on a cycle, a clique with duplicates, a pair whose string and
    numeric minima differ, and an isolated node."""
    edges = (
        [(i, i + 1) for i in range(200, 217)]  # 18-node path
        + [(216, 200)]  # cycle-closing edge
        + [(1, 2), (2, 3), (1, 3), (3, 1)]  # triangle + reversed dup
        + [(50, 51), (51, 50)]  # pair, both orientations
        + [(9, 10)]  # numeric min 9, code-point min "d10"
        + [(77, 77)]  # self-loop only: isolated node
    )
    int_pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    str_pairs = spark.createDataFrame(
        [(f"d{a}", f"d{b}") for a, b in edges], "id_a string, id_b string"
    )
    via_driver = _cc_labels(int_pairs)
    via_driver_str = _cc_labels(str_pairs)
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", -1)
    assert _cc_labels(int_pairs) == via_driver
    assert _cc_labels(str_pairs) == via_driver_str
    assert {via_driver[i] for i in range(200, 217)} == {200}
    assert via_driver[77] == 77
    assert {via_driver[i] for i in (50, 51)} == {50}
    assert via_driver[10] == 9
    assert via_driver_str["d9"] == "d10"
    assert via_driver_str["d216"] == "d200"
    assert via_driver_str["d77"] == "d77"


@pytest.mark.parametrize(
    "name",
    [
        "t10_dup_components",
        "p2_neardup_removal",
        "p7_canonical_docs",
        "t54_dup_clusters",
        "v15_dbscan_grid",
    ],
)
def test_connected_components_callers_forced_loop_match_oracle(
    spark, sf_dir, monkeypatch, name
):
    """Every connected-components caller, with the star-contraction
    loop forced (cap -1), still matches its DuckDB oracle at sf0.01,
    where v15's DBSCAN components are long eps-chains. v15 shares the
    cap: at -1 it also takes its distributed DBSCAN, the one path that
    calls connected_components (spied, so a split of the cap cannot
    drop this coverage unnoticed)."""
    import os

    from openseizuredatabase_spark.plans.oracle_check import (
        _duckdb_conn,
        compare_query,
    )
    from openseizuredatabase_spark.plans.registry import QUERIES

    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(sf01):
        pytest.skip("sf0.01 lake not generated")
    monkeypatch.setattr(dedup_ops, "_CC_DRIVER_EDGE_CAP", -1)
    calls = []
    real = dedup_ops.connected_components

    def spy(pairs):
        calls.append(pairs)
        return real(pairs)

    monkeypatch.setattr(dedup_ops, "connected_components", spy)
    ok, msg = compare_query(spark, _duckdb_conn(sf01), QUERIES[name], sf01)
    assert ok, msg
    assert calls, f"{name} did not call connected_components"


def test_driver_cc_labels_string_ids_and_empty():
    """Union-find min-labeling under Python ordering == Spark's UTF8
    binary ordering for strings; empty edge list yields empty labels."""
    from openseizuredatabase_spark.operators.dedup import _driver_cc_labels

    got = _driver_cc_labels([("b", "c"), ("a", "b"), ("x", "x")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x"}
    assert _driver_cc_labels([]) == {}


def test_stratified_sample_portable_and_layout_stable(spark):
    from openseizuredatabase_spark.operators.splits import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
        "id long, cls string",
    )
    out = stratified_sample(df, "cls", {"a": 1.0, "b": 0.2}, "id", seed=3)
    rows = out.collect()
    a_ids = {r["id"] for r in rows if r["cls"] == "a"}
    b_ids = {r["id"] for r in rows if r["cls"] == "b"}
    assert len(a_ids) == 200  # frac 1.0 keeps everything
    assert 10 <= len(b_ids) <= 70  # ~20% of 200
    # layout independence: same membership after repartitioning
    out2 = stratified_sample(
        df.repartition(17), "cls", {"a": 1.0, "b": 0.2}, "id", seed=3
    )
    assert {(r["id"], r["cls"]) for r in out2.collect()} == {
        (r["id"], r["cls"]) for r in rows
    }
    # unlisted strata default to dropped
    df2 = df.withColumn("cls", F.lit("zzz"))
    assert stratified_sample(df2, "cls", {"a": 1.0}, "id").count() == 0


def test_benchmark_overlap_vs_bruteforce(spark):
    from openseizuredatabase_spark.operators.dedup import (
        benchmark_overlap,
        shingles,
    )

    docs = [
        (1, "a b c d e f g h"),          # shares the 'a b c d e' shingle
        (2, "x y z w v u t s"),          # no overlap with bench
        (3, "a b c d e x y z w v"),      # overlaps via 'a b c d e'
        (4, "too short"),                # < 5 tokens → absent from output
    ]
    bench = [(100, "a b c d e q r s t u")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")
    out = benchmark_overlap(
        shingles(ddf, "text", "doc_id", 5),
        shingles(bdf, "text", "doc_id", 5),
        "doc_id",
    ).collect()
    got = {r["doc_id"]: (r["n_sh"], r["n_hit"]) for r in out}

    def brute(text):
        t = text.split()
        return {" ".join(t[i : i + 5]) for i in range(len(t) - 4)}

    bench_sh = set().union(*(brute(t) for _, t in bench))
    expect = {
        i: (len(brute(t)), len(brute(t) & bench_sh))
        for i, t in docs
        if len(t.split()) >= 5
    }
    assert got == expect
    assert got[1][1] == 1 and got[2][1] == 0 and got[3][1] == 1


def test_scrub_pii_and_count(spark):
    from openseizuredatabase_spark.functions.text import pii_count, scrub_pii

    rows = [
        (1, "mail me at jo.doe1@ex.org thanks"),
        (2, "call +1-555-0199 or +1-555-7"),
        (3, "clean text only"),
        (4, "both jo@a.b and +1-555-12 here"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: (r["s"], r["n"])
        for r in df.select(
            "id",
            scrub_pii(F.col("text")).alias("s"),
            pii_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert out[1] == ("mail me at <EMAIL> thanks", 1)
    assert out[2] == ("call <PHONE> or <PHONE>", 2)
    assert out[3] == ("clean text only", 0)
    assert out[4] == ("both <EMAIL> and <PHONE> here", 2)


def test_pii_count_matches_actual_redactions_on_overlap(spark):
    """pii_count counts on the progressively-scrubbed string, so a span
    consumed by an earlier pattern (EMAIL eating the digits a PHONE
    would match) is not double-counted: count == redactions made."""
    from openseizuredatabase_spark.functions.text import pii_count, scrub_pii

    df = spark.createDataFrame(
        [(1, "reach +1-555-7a@b.co now")], "id long, text string"
    )
    r = df.select(
        scrub_pii(F.col("text")).alias("s"),
        pii_count(F.col("text")).alias("n"),
    ).collect()[0]
    # EMAIL matches '7a@b.co' first, leaving '+1-555-' with no digits —
    # one redaction total, and the count agrees
    assert r["s"] == "reach +1-555-<EMAIL> now"
    assert r["n"] == 1


def test_lsh_band_pairs_between_batch_vs_corpus(spark):
    from openseizuredatabase_spark.operators.dedup import (
        lsh_band_pairs_between,
        minhash_signatures,
        shingles,
    )

    # corpus doc 1 and batch doc 100 are identical -> all bands agree;
    # doc 2 / doc 101 share nothing
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "q r s t u v w x y z")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "a b c d e f g h i j"), (101, "m n o p m n o p m n")],
        "doc_id long, text string",
    )
    sigs = lambda df: minhash_signatures(
        shingles(df, "text", "doc_id", 5), "doc_id", 4
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in lsh_band_pairs_between(
            sigs(batch), sigs(corpus), "doc_id", 4, 2
        ).collect()
    }
    assert got == {(100, 1)}


def test_bucketed_range_join_many_to_many(spark):
    """Overlapping intervals: a point inside several must pair with ALL
    of them (the case the as-of window cannot express), including
    intervals spanning a bucket boundary."""
    import datetime as dt

    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.joins import (
        bucketed_range_join,
    )

    base = dt.datetime(2024, 1, 1)
    s = lambda secs: base + dt.timedelta(seconds=secs)
    points = spark.createDataFrame(
        [
            Row(user_id=1, pid=1, ts=s(100)),
            Row(user_id=1, pid=2, ts=s(950)),   # inside iv A and iv B
            Row(user_id=1, pid=3, ts=s(2500)),  # inside iv B only (2nd bucket)
            Row(user_id=2, pid=4, ts=s(100)),   # other key: no match
        ]
    )
    intervals = spark.createDataFrame(
        [
            Row(user_id=1, iv=10, lo=s(0), hi=s(1000)),     # A
            Row(user_id=1, iv=11, lo=s(900), hi=s(2600)),   # B spans buckets
        ]
    )
    out = bucketed_range_join(
        points, intervals, "user_id", "ts", "lo", "hi", bucket_secs=1800
    )
    got = sorted((r["pid"], r["iv"]) for r in out.collect())
    assert got == [(1, 10), (2, 10), (2, 11), (3, 11)]


def test_duplicated_ngram_spans_merge(spark):
    """Two docs share a 7-word phrase → run of three dup 5-grams merges
    into ONE 7-word span per doc; a doc-internal repeat also counts; a
    unique doc emits nothing."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.dedup import (
        duplicated_ngram_spans,
    )

    phrase = "the quick brown fox jumps over fences"  # 7 words
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"start {phrase} tail words here now"),
            Row(doc_id=2, text=f"{phrase} completely different ending text"),
            # doc 3: internal repeat of a 5-gram ("a b c d e" twice)
            Row(doc_id=3, text="a b c d e x y z w a b c d e"),
            Row(doc_id=4, text="totally unique words nothing shared at all"),
        ]
    )
    out = duplicated_ngram_spans(docs, "text", "doc_id", k=5, min_count=2)
    rows = {
        (r["doc_id"], r["span_id"]): (
            r["span_start"], r["span_end"], r["n_ngrams"]
        )
        for r in out.collect()
    }
    by_doc = sorted(set(d for d, _ in rows))
    assert by_doc == [1, 2, 3]
    # doc 1: phrase at words 1..7 → positions 1,2,3 dup → span [1, 8)
    assert rows[(1, 1)] == (1, 8, 3)
    # doc 2: phrase at words 0..6 → span [0, 7)
    assert rows[(2, 1)] == (0, 7, 3)
    # doc 3: "a b c d e" at pos 0 and pos 9 → two separate spans
    assert rows[(3, 1)] == (0, 5, 1)
    assert rows[(3, 2)] == (9, 14, 1)


def test_scrub_duplicated_spans_cuts_shared_phrase(spark):
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.dedup import (
        scrub_duplicated_spans,
    )

    phrase = "one two three four five"  # shared 5-gram
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"keep this {phrase} and this"),
            Row(doc_id=2, text=f"{phrase} unique ending words here"),
            Row(doc_id=3, text="no duplication at all here folks"),
        ]
    )
    out = scrub_duplicated_spans(docs, "text", "doc_id", k=5, min_count=2)
    got = {r["doc_id"]: (r["n_words"], r["n_kept"], r["cleaned"])
           for r in out.collect()}
    assert got[1] == (9, 4, "keep this and this")
    assert got[2] == (9, 4, "unique ending words here")
    assert got[3] == (6, 6, "no duplication at all here folks")


def test_scrub_emits_every_document(spark):
    """Round-4 contract: a scrub used to rebuild a corpus must not
    silently delete documents — short docs (< k words, no possible
    k-gram) pass through verbatim, and a fully-covered doc comes back
    as (n_kept=0, cleaned='') instead of vanishing."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.dedup import (
        scrub_duplicated_spans,
    )

    phrase = "one two three four five"  # exactly one 5-gram, duplicated
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=phrase),           # fully covered
            Row(doc_id=2, text=phrase),           # fully covered
            Row(doc_id=3, text="tiny doc"),       # < k words
            Row(doc_id=4, text="ok " + phrase),   # partially covered
        ]
    )
    out = scrub_duplicated_spans(docs, "text", "doc_id", k=5, min_count=2)
    got = {r["doc_id"]: (r["n_words"], r["n_kept"], r["cleaned"])
           for r in out.collect()}
    assert set(got) == {1, 2, 3, 4}  # every doc emits exactly one row
    assert got[1] == (5, 0, "")
    assert got[2] == (5, 0, "")
    assert got[3] == (2, 2, "tiny doc")
    assert got[4] == (6, 1, "ok")


def test_jaccard_candidate_pairs_string_ids(spark):
    """The NULL size-sentinel must inherit the id column's type: string
    doc ids were an analysis-time failure before round 4."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.dedup import (
        jaccard_candidate_pairs,
    )

    sh = spark.createDataFrame(
        [
            Row(doc="a", shingle="x"), Row(doc="a", shingle="y"),
            Row(doc="b", shingle="x"), Row(doc="b", shingle="y"),
            Row(doc="c", shingle="z"),
        ]
    )
    rows = jaccard_candidate_pairs(sh, "doc").collect()
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
           for r in rows}
    assert got[("a", "b")] == (2, 2, 2)


def test_lsh_band_pairs_max_bucket_guard(spark):
    """The production mega-dup guard: a bucket with more members than
    max_bucket (an exact-dup cluster) is dropped from pair enumeration
    — its m^2/2 pairs would dominate at corpus scale — while normal
    buckets still emit their candidates."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures,
        shingles,
    )

    rows = [Row(doc_id=i, text="exact duplicate cluster text body here")
            for i in range(1, 9)]              # 8 identical docs
    rows += [Row(doc_id=20, text="another pair of matching documents x"),
             Row(doc_id=21, text="another pair of matching documents x"),
             Row(doc_id=30, text="completely different content entirely z")]
    docs = spark.createDataFrame(rows)
    sigs = minhash_signatures(shingles(docs, "text", "doc_id", 3), "doc_id", 8)
    uncapped = lsh_band_pairs(sigs, "doc_id", 8, 2)
    capped = lsh_band_pairs(sigs, "doc_id", 8, 2, max_bucket=4)
    un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (20, 21) in un and (20, 21) in cp   # small bucket survives
    assert sum(1 for a, b in un if a < 9 and b < 9) == 28  # 8C2 pairs
    assert not any(a < 9 and b < 9 for a, b in cp)  # mega-dup culled
