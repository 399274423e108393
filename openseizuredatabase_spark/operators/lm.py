"""Corpus language-model operators for the LLM data pipeline: distributed
BPE tokenizer training and n-gram LM estimation/scoring.

Beyond-reference surface (the reference's nnTraining pipeline stops at
signal tensors): these are the text-side equivalents a 100 TB training-
data pipeline needs — a learned subword vocabulary and a cheap corpus LM
for perplexity-style quality filtering.

Scale shapes:

* BPE training operates on the DISTINCT-WORD vocabulary weighted by
  frequency, not the corpus: one corpus-wide tokenize+count shuffle
  builds (word, freq), after which every merge round touches only the
  vocab table (heavy-tailed: orders of magnitude smaller than the
  corpus). Each round = one pair-count aggregation (map-side combined,
  O(1) buffers) + a 1-row argmax fetch (the algorithm's inherent sync
  point) + an Arrow-batched merge apply (greedy left-to-right pair
  substitution is sequential PER WORD — words are short, batches are
  vectorized). The vocab frame is pinned per round to stop
  lineage growth across iterations.
* The bigram LM is two aggregations (bigram counts, unigram counts) and
  scoring is an equi-join of the document bigrams against the model on
  the bigram key — shuffle-partitioned both sides, skew-safe (no hot
  single key beyond stopword pairs, which AQE splits).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openseizuredatabase_spark.functions.text import tokens
from openseizuredatabase_spark.lineage import pin


# ---------------------------------------------------------------------------
# BPE tokenizer training
# ---------------------------------------------------------------------------


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus — the one corpus-wide pass BPE needs."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _init_symbols(vocab: DataFrame) -> DataFrame:
    """word → array of single-character symbols with a </w> end marker
    (the classic Sennrich formulation, so merges can't cross words)."""
    return vocab.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit("</w>"))
        ).alias("syms"),
    )


def pair_counts(sym_vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over the vocab.

    One aggregation; the explode fans out to (word_len) rows per word but
    the count buffers are O(1) and map-side combined.
    """
    pairs = F.expr(
        "transform(slice(syms, 1, size(syms) - 1),"
        " (s, i) -> struct(s AS a, syms[i + 1] AS b))"
    )
    return (
        sym_vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _merge_word(syms: Sequence[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right single-pair merge (sequential by nature)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list (the tokenizer artifact).

    The driver loop fetches ONE (a, b, n) row per round — the argmax is
    the algorithm's sequential dependency, everything else is
    distributed. Ties break (n desc, a asc, b asc) so training is
    deterministic under any partitioning.
    """
    sym_vocab = _init_symbols(word_vocab(docs, text_col))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(sym_vocab)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .head(1)
        )
        if not top or top[0]["n"] < min_pair_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))

        def apply_merge(batches, a=a, b=b):
            for pdf in batches:
                pdf["syms"] = [
                    _merge_word(s, a, b) for s in pdf["syms"]
                ]
                yield pdf

        # truncate per-round lineage
        sym_vocab = pin(
            sym_vocab.mapInPandas(
                apply_merge, "word string, freq long, syms array<string>"
            )
        )
    return merges


def apply_bpe(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a trained merge list (merges ride the closure,
    broadcast by task serialization; one Arrow batch per call)."""
    merge_list = [tuple(m) for m in merges]

    def tokenize(batches):
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                toks: list[str] = []
                for w in (text or "").split():
                    syms = list(w) + ["</w>"]
                    for a, b in merge_list:
                        syms = _merge_word(syms, a, b)
                    toks.extend(syms)
                out.append(toks)
            pdf[out_col] = out
            yield pdf

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(tokenize, f"{schema}, {out_col} array<string>")


# ---------------------------------------------------------------------------
# Bigram language model (add-1 smoothing) + per-doc scoring
# ---------------------------------------------------------------------------


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, a, b) lowercase token bigrams per document."""
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    d = docs.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (t, i) -> struct(t AS a, toks[i + 1] AS b))"
    )
    return d.select(id_col, F.explode(bigrams).alias("p")).select(
        id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )


def bigram_doc_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc add-1 bigram log-probability scores — the fused form of
    ``bigram_model`` + ``score_docs_bigram`` (t18/p5/p10's shape).

    Round-11 restructure (guide §2.3 "aggregate before you shuffle"):
    the corpus is tokenized+exploded into bigrams ONCE, immediately
    aggregated to per-doc distinct-bigram counts (dbc: id, a, b, n) and
    materialized; the model's corpus counts come from dbc by a second,
    much smaller aggregation, and scoring joins dbc — so the model
    join handles one row per DISTINCT (doc, bigram) instead of one row
    per occurrence, and the historical plan's second tokenize+explode
    pass disappears. The per-doc average is the weighted identity
    avg(lp over occurrences) = Σ n·lp / Σ n — same values, fewer rows
    (the oracle twin applies the identical rewrite).

    Unigram counts still need their own tokenize pass: c(a) counts all
    token occurrences including each doc's final token, which bigram
    first-positions miss.
    """
    # consumed by the model aggregation AND the scoring join; lazy
    # (not eager) measured 1.8 s faster at sf0.1 — the defensive
    # per-row copy of an eager materialization costs more than the
    # shared recompute it saves on this string-heavy frame
    dbc = pin(
        doc_bigrams(docs, id_col, text_col)
        .groupBy(id_col, "a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bigram_counts = dbc.groupBy("a", "b").agg(
        F.sum("n").alias("c_ab")
    )
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("v"))
    lp = F.log(
        (F.coalesce(F.col("c_ab"), F.lit(0)) + 1).cast("double")
    ) - F.log(
        (F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v")).cast("double")
    )
    joined = (
        dbc.join(bigram_counts, ["a", "b"], "left")
        .join(uni.withColumnRenamed("t", "a"), ["a"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(id_col, "n", (F.col("n") * lp).alias("nlp"))
    )
    return joined.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"),
        F.round(F.sum("nlp") / F.sum("n"), 6).alias("avg_logprob"),
    )


def bigram_model(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram_counts, unigram_counts, vocab_size_frame) over the corpus.

    Vocab size stays a 1-row FRAME (not a driver ``.count()`` action), so
    building the model never runs a Spark job — it broadcasts into the
    scoring plan.
    """
    bg = doc_bigrams(docs, id_col, text_col)
    bigram_counts = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    toks = F.transform(tokens(F.col(text_col)), lambda x: F.lower(x))
    uni = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("v"))
    return bigram_counts, uni, vsize


def score_docs_bigram(
    docs: DataFrame,
    bigram_counts: DataFrame,
    unigram_counts: DataFrame,
    vocab_size: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc average add-1 bigram log-probability — the perplexity-
    style quality signal: log((C(a,b)+1) / (C(a)+V)) averaged over the
    doc's bigrams. Equi-joins on the model keys; at lake scale the
    unigram side is broadcastable and the bigram join shuffle-partitions
    on a well-spread composite key; V rides a broadcast 1-row frame.
    """
    bg = doc_bigrams(docs, id_col, text_col)
    joined = (
        bg.join(bigram_counts, ["a", "b"], "left")
        .join(unigram_counts.withColumnRenamed("t", "a"), ["a"], "left")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            id_col,
            (
                F.log(
                    (F.coalesce(F.col("c_ab"), F.lit(0)) + 1).cast("double")
                )
                - F.log(
                    (F.coalesce(F.col("c_a"), F.lit(0)) + F.col("v")).cast(
                        "double"
                    )
                )
            ).alias("lp"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def kneser_ney_model(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Interpolated Kneser–Ney bigram statistics (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.25) — the smoothing KenLM-style quality
    filters actually use, vs t18's add-1 baseline.

    Returns (bigram_counts, follow_stats, precede_stats, n_bigram_types):
    c(a,b); per-a (c(a) = Σ_b c(a,b), N1+(a·) = |{b}|); per-b continuation
    N1+(·b) = |{a}|; and the distinct-bigram total — four count
    aggregations over one bigram frame, every one shuffle-partitioned on
    its own key and algebraic (map-side combine applies).
    """
    bg = doc_bigrams(docs, id_col, text_col)
    # four consumers (follow, precede, the type total, and the scoring
    # join) each replayed the corpus tokenize+explode+count through this
    # frame — the model build ran the corpus pass four times. Pin the
    # aggregated (a, b, c_ab) table (vocabulary-pair-bounded, far
    # smaller than the bigram stream) so the pass runs once; guide §5
    # persist-when-reused-and-expensive.
    bigram_counts = pin(
        bg.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    follow = bigram_counts.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"),
        F.count(F.lit(1)).alias("n1f_a"),
    )
    precede = bigram_counts.groupBy("b").agg(
        F.count(F.lit(1)).alias("n1p_b")
    )
    n_types = bigram_counts.agg(F.count(F.lit(1)).alias("nbt"))
    return bigram_counts, follow, precede, n_types


def score_docs_kneser_ney(
    docs: DataFrame,
    bigram_counts: DataFrame,
    follow: DataFrame,
    precede: DataFrame,
    n_types: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-doc average interpolated-KN bigram log-probability:

        P(b|a) = (c(a,b) − D)/c(a) + (D·N1+(a·)/c(a)) · (N1+(·b)/T)

    Self-scoring keeps every doc bigram in the model (c(a,b) ≥ 1 > D, so
    the discounted term never clips) and makes the joins exact inner
    joins. The expression is written in the same operation order as the
    oracle SQL — every step an IEEE correctly-rounded op — and the 6-dp
    rounded average absorbs summation-order ulps (t18 discipline).
    """
    d = F.lit(discount)
    bg = doc_bigrams(docs, id_col, text_col)
    joined = (
        bg.join(bigram_counts, ["a", "b"])
        .join(follow, ["a"])
        .join(precede, ["b"])
        .crossJoin(F.broadcast(n_types))
    )
    p = (F.col("c_ab") - d) / F.col("c_a") + (
        d * F.col("n1f_a") / F.col("c_a")
    ) * (F.col("n1p_b") / F.col("nbt"))
    scored = joined.select(id_col, F.log(p).alias("lp"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_kn_logprob"),
    )


def dsir_importance(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    n_buckets: int = 64,
    seed: int = 11,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW-pool
    document by how target-like its hashed-bigram distribution is.

    Features are bigrams hashed into ``n_buckets`` buckets (the paper's
    hashed n-gram features); target and raw bucket unigram models use
    add-1 smoothing; a document's weight is

        w = sum_b n_doc(b) * (ln p_target(b) - ln p_raw(b))

    reported in integer micro-units (``w_micro``): the per-bucket log
    ratio is quantized to 1e-6 BEFORE the weighted sum, so the result is
    an exact integer dot product — bit-stable under any partition layout
    or engine (the m14/x_signatures integer-accumulator pattern).
    Resample the pool by feeding ``w_micro`` into weighted sampling
    (t22's Efraimidis-Sprakis operator) or a top-k.

    Scale shape: ONE corpus shuffle builds per-(doc, bucket) counts;
    both bucket models come from a second aggregation over that frame
    (64-row output) whose log-ratio table is BROADCAST back; the final
    per-doc sum rides a doc-key aggregation. The (doc, bucket) frame
    feeds the model and the scoring pass, so it is lazily checkpointed
    once — at lake scale that materialization is the natural cache
    point (it is ~n_buckets rows per doc, far smaller than the text).

    ``target_col``: boolean column marking target-domain rows.
    ``keep_cols``: passthrough columns carried to the output.
    """
    t = tokens(F.col(text_col))
    d = docs.select(
        F.col(id_col),
        F.col(target_col).alias("__t"),
        *[F.col(c) for c in keep_cols],
        t.alias("tk"),
    ).filter(F.size("tk") >= 2)
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i + 1),
                F.element_at(F.col("tk"), i + 2),
            ),
        )
    )
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    bg = d.select(id_col, "__t", *keep_cols, bigram.alias("w"))
    bb = pin(
        bg.select(
            id_col,
            "__t",
            *keep_cols,
            (seeded_md5_long(F.col("w"), seed) % n_buckets).alias("b"),
        )
        .groupBy(id_col, "__t", *keep_cols, "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = bb.groupBy("b").agg(
        F.sum(F.when(F.col("__t"), F.col("n")).otherwise(0)).alias("tn"),
        F.sum(F.when(~F.col("__t"), F.col("n")).otherwise(0)).alias("rn"),
    )
    tot = model.agg(
        F.sum("tn").alias("tt"), F.sum("rn").alias("rt")
    )
    lr = model.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("tn") + 1)
                    / (F.col("tt") + n_buckets).cast("double")
                )
                - F.log(
                    (F.col("rn") + 1)
                    / (F.col("rt") + n_buckets).cast("double")
                )
            )
            * 1000000,
            0,
        )
        .cast("long")
        .alias("lrm"),
    )
    return (
        bb.filter(~F.col("__t"))
        .join(F.broadcast(lr), "b")
        .groupBy(id_col, *keep_cols)
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("lrm")).alias("w_micro"),
        )
    )


def _dense_w(wd: dict, nb1: int):
    """Driver weight dict {bucket: w} → dense int64 vector indexed by
    bucket+1 (bias bucket -1 at index 0) for the vectorized GD pass.
    Buckets never seen in the data stay 0 and are never read (the pass
    indexes only buckets present in its batch)."""
    import numpy as np

    arr = np.zeros(nb1, dtype=np.int64)
    for b, w in wd.items():
        arr[b + 1] = w
    return arr


def hashed_classifier_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    target_col: str,
    n_buckets: int = 64,
    iters: int = 3,
    lr: float = 4.0,
    seed: int = 11,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """fastText-style hashed linear quality classifier (Joulin et al.
    2017 — the trained-filter family the LLaMA/CCNet pipelines use for
    "wikiref-like" page selection), trained AND applied entirely as
    relational operators.

    Features are the DSIR hashed-bigram buckets normalized to per-doc
    micro-ratios plus a bias feature; the model is logistic regression
    fit with ``iters`` full-batch gradient steps from zero init. Every
    training quantity is integer micro-units with one disciplined
    rounding point per step: z = Σ w·x is an EXACT int64 dot product
    (order-free), the sigmoid output is immediately quantized back to
    integer micro-units (round(1e6·σ) — the only transcendental, so a
    1-ulp cross-engine exp() difference survives only on a measure-zero
    boundary), and the weight update rounds lr·g/(N·1e6) to integer
    micro-units. The whole fit is therefore bit-replayable in ANSI SQL
    as ``iters`` unrolled CTE blocks (the v5 Lloyd-unroll pattern) —
    a TRAINED model with a value-hash oracle.

    Scale shape (round-11): ONE corpus shuffle builds the (doc, bucket)
    feature frame and a second groups it to one row per doc (both
    lazily checkpointed); the (n_buckets+1)-int64 model itself is
    metadata-sized and lives on the DRIVER between steps, so each GD
    step is a single shuffle-free vectorized numpy pass that fuses
    z → σ → per-bucket partial gradients and ships ≤ n_buckets+1
    partial rows per input partition into one tiny aggregation —
    never a data-sized collect. Final scoring stays in-plan (broadcast
    weight join), identical to before.

    Returns ``(id, *keep_cols, n_bigrams, score, pred)`` where score is
    the final 6-dp sigmoid and pred the exact integer test z >= 0.

    Docs with fewer than 2 tokens carry no bigram features, so they are
    EXCLUDED from training (they would only shift the bias toward the
    short-doc class balance) but still SCORED through the trained bias
    weight: they appear in the output with ``n_bigrams = 0`` and the
    bias-only score σ(w_bias·1e6/1e12) — no input doc silently vanishes.
    If NO doc has ≥2 tokens there is nothing to train on and the result
    is empty.

    Integer-overflow bound: each gradient term (p−ym)·x is ≤1e12 in
    magnitude, so the int64 bucket sum Σ(p−ym)·x wraps once more than
    ~9.2e6 docs contribute to one bucket (n_docs·1e12 > 2^63). Within
    that bound the sum is exact and order-free — which is what makes
    the fit hash-replayable. Beyond it, rescale the feature micro-units
    (x in 1e3 units lifts the bound to ~9.2e9 docs/bucket at the cost
    of 3 digits of feature precision) or accumulate the gradient in
    DECIMAL(38,0); both trade away the cross-engine bit-replay this
    entry point guarantees, so they are deliberate forks, not defaults.
    """
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    t = tokens(F.col(text_col))
    d_all = docs.select(
        F.col(id_col),
        F.col(target_col).alias("__t"),
        *[F.col(c) for c in keep_cols],
        t.alias("tk"),
    )
    d = d_all.filter(F.size("tk") >= 2)
    shorts = d_all.filter(F.size("tk") < 2).select(id_col, *keep_cols)
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i + 1),
                F.element_at(F.col("tk"), i + 2),
            ),
        )
    )
    bb = (
        d.select(id_col, "__t", *keep_cols, bigram.alias("w"))
        .select(
            id_col,
            "__t",
            *keep_cols,
            (seeded_md5_long(F.col("w"), seed) % n_buckets).alias("b"),
        )
        .groupBy(id_col, "__t", *keep_cols, "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nt = bb.groupBy(id_col, "__t", *keep_cols).agg(
        F.sum("n").alias("nb")
    )
    # nt is consumed three times (the xt feature join, the label frame,
    # and the final output's n_bigrams column); pin the one-row-per-doc
    # aggregate so the bigram explode+count subtree runs once
    nt = pin(nt)
    # feature frame: per-doc bucket micro-ratios + a bias feature b=-1;
    # reused by every GD step and the final scoring pass
    xt = pin(
        bb.join(nt.select(id_col, "nb"), id_col)
        .select(
            id_col,
            "b",
            F.round(F.col("n") * 1000000.0 / F.col("nb"), 0)
            .cast("long")
            .alias("x"),
        )
        .unionByName(
            nt.select(
                id_col,
                F.lit(-1).cast("long").alias("b"),
                F.lit(1000000).cast("long").alias("x"),
            )
        )
    )
    # -- training (round-11 shape, guide §2.4 + §4.2): the model is only
    # n_buckets+1 int64 weights — metadata-sized — so it lives on the
    # DRIVER between steps (the kmeans_exact codebook pattern). Each GD
    # step is ONE vectorized numpy pass (mapInPandas) over a pre-grouped
    # per-doc feature frame: z, the quantized sigmoid p, and per-bucket
    # partial gradients all happen inside the pass, so a step ships only
    # ≤ (n_buckets+1) partial rows per input partition instead of the
    # historical two corpus shuffles (a doc-key agg for z plus a
    # bucket-key agg for the gradient, with two id-joins between them).
    # Every quantity stays in the SAME integer micro-units with the SAME
    # single rounding point per step, so the fit is byte-identical to
    # the historical relational loop (pinned by tests/test_lm.py and the
    # t34 oracle): z is an exact order-free int64 dot product whether
    # summed by np.add.reduceat or a hash aggregate; p replicates
    # Spark's HALF_UP round(double, 0) via the exact floor/frac
    # comparison (k+0.5 is representable, so the binary value and the
    # shortest-decimal BigDecimal.valueOf see the same side of every
    # tie boundary); the weight update runs the identical IEEE-754
    # double expression lr·g/(ndocs·1e6) on the driver. The only
    # engine change is TRAINING-p's exp() moving JVM→libm, which can
    # differ on a measure-zero boundary the docstring already carves
    # out (and libm is what the DuckDB oracle twin uses). Final SCORES
    # are still computed in-plan by the JVM exactly as before.
    import math

    import numpy as np
    from pyspark.sql import types as T

    spark = docs.sparkSession
    ydoc = nt.select(
        id_col,
        F.when(F.col("__t"), F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ym"),
    )
    # one row per doc: flattened feature arrays + label; ONE shuffle,
    # pinned — every GD pass re-reads this frame shuffle-free
    docfeat = pin(
        xt.groupBy(id_col)
        .agg(
            F.collect_list("b").alias("bs"),
            F.collect_list("x").alias("xs"),
        )
        .join(ydoc, id_col)
        .select("bs", "xs", "ym")
    )
    nb1 = n_buckets + 1  # bucket b maps to index b+1 (bias b=-1 → 0)
    part_schema = T.StructType(
        [
            T.StructField("b", T.LongType()),
            T.StructField("g", T.LongType()),
            T.StructField("nd", T.LongType()),
        ]
    )

    def gd_pass(warr):
        """One corpus pass: per-batch partial bucket gradients Σ(p−ym)·x.

        ``warr`` is the dense driver weight vector (index b+1) or None
        for the zero-init step where p = 5e5 exactly. Emits one row per
        bucket PRESENT in the batch (g may be 0 — presence defines the
        weight-table key set, matching the historical groupBy("b")), and
        carries the batch doc count on the always-present bias row.
        """

        def run(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                lens = np.fromiter(
                    (len(v) for v in pdf["bs"]), dtype=np.int64,
                    count=len(pdf),
                )
                idx = (
                    np.concatenate(
                        [np.asarray(v, dtype=np.int64) for v in pdf["bs"]]
                    )
                    + 1
                )
                xs = np.concatenate(
                    [np.asarray(v, dtype=np.int64) for v in pdf["xs"]]
                )
                ym = pdf["ym"].to_numpy(dtype=np.int64)
                if warr is None:
                    p = np.full(len(pdf), 500000, dtype=np.int64)
                else:
                    starts = np.zeros(len(pdf), dtype=np.int64)
                    np.cumsum(lens[:-1], out=starts[1:])
                    z = np.add.reduceat(warr[idx] * xs, starts)
                    v = 1000000.0 / (
                        1.0 + np.exp(-(z.astype(np.float64) / 1.0e12))
                    )
                    fl = np.floor(v)
                    p = (fl + (v - fl >= 0.5)).astype(np.int64)
                acc = np.zeros(nb1, dtype=np.int64)
                np.add.at(acc, idx, np.repeat(p - ym, lens) * xs)
                seen = np.unique(idx)
                yield pd.DataFrame(
                    {
                        "b": seen - 1,
                        "g": acc[seen],
                        "nd": np.where(seen == 0, len(pdf), 0),
                    }
                )

        return (
            docfeat.mapInPandas(run, schema=part_schema)
            .groupBy("b")
            .agg(F.sum("g").alias("g"), F.sum("nd").alias("nd"))
            .collect()
        )

    def _round_half_up(v: float) -> int:
        """BigDecimal HALF_UP at scale 0 (ties away from zero) on the
        double's exact value — matches Spark round(double, 0) for every
        |v| < 2^52 (see the tie-boundary argument above)."""
        a = abs(v)
        fl = math.floor(a)
        r = fl + (1 if a - fl >= 0.5 else 0)
        return -r if v < 0.0 else r

    wd: dict[int, int] = {}
    ndocs = 0
    for it in range(iters):
        rows = gd_pass(None if it == 0 else _dense_w(wd, nb1))
        if it == 0:
            ndocs = sum(r["nd"] for r in rows)
            if ndocs == 0:
                break
        for r in rows:
            delta = _round_half_up(
                lr * float(r["g"]) / (float(ndocs) * 1000000.0)
            )
            wd[r["b"]] = wd.get(r["b"], 0) - delta
    from openseizuredatabase_spark.functions.literal import literal_df

    w = literal_df(spark, sorted(wd.items()), "b bigint, w bigint")

    def z_frame(w_df: DataFrame) -> DataFrame:
        return (
            xt.join(F.broadcast(w_df), "b")
            .groupBy(id_col)
            .agg(F.sum(F.col("w") * F.col("x")).alias("zr"))
        )

    zf = z_frame(w)
    score = F.round(
        1.0 / (1.0 + F.exp(-(F.col("zr").cast("double") / 1000000000000.0))),
        6,
    )
    main = (
        nt.select(id_col, *keep_cols, F.col("nb").alias("n_bigrams"))
        .join(zf, id_col)
        .select(
            id_col,
            *keep_cols,
            "n_bigrams",
            score.alias("score"),
            (F.col("zr") >= 0).alias("pred"),
        )
    )
    # bias-only scoring of feature-less (<2-token) docs: z = w_bias·1e6,
    # one broadcast row against the short-doc ids — nothing vanishes
    wb = w.filter(F.col("b") == -1).select(
        (F.col("w") * 1000000).alias("zr")
    )
    short_rows = shorts.crossJoin(F.broadcast(wb)).select(
        id_col,
        *keep_cols,
        F.lit(0).cast("long").alias("n_bigrams"),
        score.alias("score"),
        (F.col("zr") >= 0).alias("pred"),
    )
    return main.unionByName(short_rows)
