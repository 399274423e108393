"""BPE tokenizer training + bigram LM (operators/lm.py): the distributed
trainer must equal a reference single-process Sennrich-style BPE, and the
LM scorer must equal hand-computed add-1 probabilities."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import Row

from openseizuredatabase_spark.operators import lm


# --- reference single-process BPE (Sennrich formulation) -------------------


def _ref_bpe(texts: list[str], n_merges: int, min_pair_freq: int = 2):
    vocab = Counter()
    for t in texts:
        for w in t.split():
            vocab[w] += 1
    syms = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, freq in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        # same deterministic tiebreak as the engine: n desc, a asc, b asc
        (a, b), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_pair_freq:
            break
        merges.append((a, b))
        for w in syms:
            syms[w] = lm._merge_word(syms[w], a, b)
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "low newer lowest newest",
    "wide wider widest wide",
]


def test_train_bpe_matches_reference(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    )
    got = lm.train_bpe(docs, n_merges=8)
    want = _ref_bpe(TEXTS, 8)
    assert got == want
    assert len(got) == 8  # corpus is rich enough for all 8 rounds


def test_apply_bpe_roundtrip(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)]
    )
    merges = lm.train_bpe(docs, n_merges=6)
    out = {
        r["doc_id"]: r["bpe_tokens"]
        for r in lm.apply_bpe(docs, merges).collect()
    }
    # every token stream reassembles to the original text (merges only
    # concatenate; </w> marks word ends)
    for i, t in enumerate(TEXTS):
        joined = "".join(out[i]).replace("</w>", " ").strip()
        assert joined == t
    # the learned merges actually compress: fewer symbols than chars
    n_syms = sum(len(v) for v in out.values())
    n_chars = sum(len(w) + 1 for t in TEXTS for w in t.split())
    assert n_syms < n_chars


def test_merge_word_greedy_overlap():
    # 'aaa' with merge (a,a): greedy left-to-right gives [aa, a]
    assert lm._merge_word(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert lm._merge_word(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]


def test_bigram_lm_hand_computed(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b c")]
    )
    bigram_counts, uni, vsize = lm.bigram_model(docs)
    out = {
        r["doc_id"]: r
        for r in lm.score_docs_bigram(
            docs, bigram_counts, uni, vsize
        ).collect()
    }
    # corpus bigrams: (a,b)x2 +(a,b)x1 =3? doc1: ab, ba, ab; doc2: ab, bc
    # C(a,b)=3, C(b,a)=1, C(b,c)=1; C(a)=3, C(b)=3, C(c)=1; V=3
    v = 3

    def lp(c_ab, c_a):
        return math.log((c_ab + 1) / (c_a + v))

    want1 = (lp(3, 3) + lp(1, 3) + lp(3, 3)) / 3
    want2 = (lp(3, 3) + lp(1, 3)) / 2
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_logprob"] - round(want1, 6)) < 2e-6
    assert out[2]["n_bigrams"] == 2
    assert abs(out[2]["avg_logprob"] - round(want2, 6)) < 2e-6


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.lm import dsir_importance

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y x y x y", tgt=True),
            Row(doc_id=2, text="x y x y", tgt=False),      # target-like
            Row(doc_id=3, text="p q r s t u", tgt=False),  # dissimilar
        ]
    )
    out = dsir_importance(docs, "text", "doc_id", "tgt", n_buckets=64)
    got = {r["doc_id"]: (r["n_bigrams"], r["w_micro"]) for r in out.collect()}
    assert set(got) == {2, 3}  # target rows are not scored
    assert got[2][0] == 3      # "x y","y x","x y"
    assert got[3][0] == 5
    # the target-like doc must outscore the dissimilar one
    assert got[2][1] > got[3][1]


def test_hashed_classifier_learns_separation(spark):
    """3 GD steps on clearly separable vocabularies must score target
    docs above non-target docs (the model actually LEARNS — the oracle
    only proves the arithmetic replays)."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.lm import (
        hashed_classifier_scores,
    )

    rows = []
    for i in range(20):
        rows.append(Row(doc_id=i, text="alpha beta gamma delta " * 5,
                        is_t=True))
        rows.append(Row(doc_id=100 + i, text="omega psi chi phi " * 5,
                        is_t=False))
    docs = spark.createDataFrame(rows)
    out = hashed_classifier_scores(
        docs, "text", "doc_id", "is_t", n_buckets=64, iters=3, lr=4.0
    )
    got = {r["doc_id"]: (r["score"], r["pred"]) for r in out.collect()}
    t_scores = [got[i][0] for i in range(20)]
    r_scores = [got[100 + i][0] for i in range(20)]
    assert min(t_scores) > max(r_scores)
    assert all(got[i][1] for i in range(20))
    assert not any(got[100 + i][1] for i in range(20))


def test_hashed_classifier_scores_short_docs_bias_only(spark):
    """Docs with <2 tokens carry no bigram features: they must not
    train the model, but they DO come back scored through the bias
    weight (n_bigrams=0) — identical score for every short doc."""
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.lm import (
        hashed_classifier_scores,
    )

    rows = []
    for i in range(10):
        rows.append(Row(doc_id=i, text="alpha beta gamma " * 4, is_t=True))
        rows.append(Row(doc_id=100 + i, text="omega psi chi " * 4,
                        is_t=False))
    rows += [
        Row(doc_id=900, text="solo", is_t=False),   # 1 token
        Row(doc_id=901, text="   ", is_t=True),     # 0 tokens
    ]
    docs = spark.createDataFrame(rows)
    out = hashed_classifier_scores(docs, "text", "doc_id", "is_t")
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {i for i in range(10)} | {100 + i for i in range(10)} | {900, 901}
    assert got[900]["n_bigrams"] == 0 and got[901]["n_bigrams"] == 0
    assert got[900]["score"] == got[901]["score"]  # same bias-only z
    # short docs must not perturb training: the trained separation holds
    assert min(got[i]["score"] for i in range(10)) > max(
        got[100 + i]["score"] for i in range(10)
    )
    # and the trained model (long docs only) is byte-identical to one
    # fit WITHOUT the short docs present
    base = {
        r["doc_id"]: r["score"]
        for r in hashed_classifier_scores(
            docs.filter("doc_id < 900"), "text", "doc_id", "is_t"
        ).collect()
    }
    for i in list(range(10)) + [100 + i for i in range(10)]:
        assert got[i]["score"] == base[i]


def test_hashed_classifier_deterministic(spark):
    from pyspark.sql import Row

    from openseizuredatabase_spark.operators.lm import (
        hashed_classifier_scores,
    )

    rows = [Row(doc_id=i, text=f"tok{i % 7} tok{i % 5} tok{i % 3} end",
                is_t=(i % 4 == 0)) for i in range(30)]
    docs = spark.createDataFrame(rows)
    a = {r["doc_id"]: r["score"]
         for r in hashed_classifier_scores(
             docs, "text", "doc_id", "is_t").collect()}
    b = {r["doc_id"]: r["score"]
         for r in hashed_classifier_scores(
             docs.repartition(7), "text", "doc_id", "is_t").collect()}
    assert a == b  # partition-layout independent (exact integer state)


def test_kneser_ney_hand_computed(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a b"), Row(doc_id=2, text="a b c")]
    )
    model = lm.kneser_ney_model(docs)
    out = {
        r["doc_id"]: r
        for r in lm.score_docs_kneser_ney(docs, *model).collect()
    }
    # bigram counts: (a,b)=3, (b,a)=1, (b,c)=1 → T=3 types
    # follow: c(a)=3, N1+(a·)=1;  c(b)=2, N1+(b·)=2
    # precede: N1+(·b)=1, N1+(·a)=1, N1+(·c)=1
    D = 0.75

    def p(c_ab, c_a, n1f, n1p, T=3):
        return (c_ab - D) / c_a + (D * n1f / c_a) * (n1p / T)

    lp_ab = math.log(p(3, 3, 1, 1))
    lp_ba = math.log(p(1, 2, 2, 1))
    lp_bc = math.log(p(1, 2, 2, 1))
    want1 = (lp_ab + lp_ba + lp_ab) / 3
    want2 = (lp_ab + lp_bc) / 2
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_kn_logprob"] - round(want1, 6)) < 2e-6
    assert abs(out[2]["avg_kn_logprob"] - round(want2, 6)) < 2e-6


def test_kneser_ney_normalizes_to_one(spark):
    """Interpolated KN is a true distribution: for every context a,
    Σ_{b∈vocab} P(b|a) = (c(a)−D·N1+(a·))/c(a) + (D·N1+(a·)/c(a))·1 = 1
    exactly (Σ_b N1+(·b) = T by construction)."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat"),
            Row(doc_id=2, text="the dog sat on a log"),
            Row(doc_id=3, text="a cat and a dog"),
        ]
    )
    bigram_counts, follow, precede, n_types = lm.kneser_ney_model(docs)
    bc = {(r["a"], r["b"]): r["c_ab"] for r in bigram_counts.collect()}
    fl = {r["a"]: (r["c_a"], r["n1f_a"]) for r in follow.collect()}
    pc = {r["b"]: r["n1p_b"] for r in precede.collect()}
    T = n_types.collect()[0]["nbt"]
    assert sum(pc.values()) == T
    vocab = set(pc) | set(fl)
    D = 0.75
    for a, (c_a, n1f) in fl.items():
        total = 0.0
        for b in vocab:
            disc = max(bc.get((a, b), 0) - D, 0.0) / c_a
            lam = D * n1f / c_a
            total += disc + lam * (pc.get(b, 0) / T)
        assert abs(total - 1.0) < 1e-9, (a, total)


def test_t44_relational_merges_match_reference(spark, tmp_path):
    """The fully-relational t44 trainer (chain-parity greedy merges,
    argmax-as-frame) must pick the SAME first two merges, and apply
    them with the same greedy left-to-right semantics, as the
    sequential reference — including overlapping-candidate chains
    ((a,a)-shaped pairs), which is where the parity rule earns its
    keep."""
    from openseizuredatabase_spark.plans.q_text import (
        t44_bpe_merge_rounds,
    )

    texts = TEXTS + [
        "aaaa aaa aa aaaa aaaa aaa",  # overlap chains for pair (a,a)
        "aaaa aa aaaa",
    ]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    rows = {
        r["rnd"]: r
        for r in t44_bpe_merge_rounds(spark, sf).collect()
    }
    want = _ref_bpe(texts, 2, min_pair_freq=1)
    assert [(rows[r]["a"], rows[r]["b"]) for r in (1, 2)] == want

    # replay the reference merge application to pin the counts too
    vocab = Counter()
    for t in texts:
        for w in t.split():
            vocab[w] += 1
    syms = {w: list(w) + ["</w>"] for w in vocab}
    for rnd, (a, b) in enumerate(want, start=1):
        n_sites = 0
        corpus_merges = 0
        for w, freq in vocab.items():
            merged = lm._merge_word(syms[w], a, b)
            k = len(syms[w]) - len(merged)
            n_sites += k
            corpus_merges += k * freq
            syms[w] = merged
        tokens_after = sum(
            len(syms[w]) * freq for w, freq in vocab.items()
        )
        assert rows[rnd]["n_sites"] == n_sites
        assert rows[rnd]["corpus_merges"] == corpus_merges
        assert rows[rnd]["tokens_after"] == tokens_after
