"""ML training/inference queries (SURVEY M*).

Split out of plans/registry.py (round 6); statements moved verbatim.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openseizuredatabase_spark.operators import aggregates as agg_ops
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.operators import filters as filter_ops
from openseizuredatabase_spark.operators import joins as join_ops
from openseizuredatabase_spark.operators import splits as split_ops
from openseizuredatabase_spark.operators import windows as window_ops
from openseizuredatabase_spark.functions.literal import literal_df
from openseizuredatabase_spark.functions import text as text_fns
from openseizuredatabase_spark.functions.text import bpe_token_count_sql
from openseizuredatabase_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
    seeded_md5_long,
    seeded_md5_long_sql,
)
from openseizuredatabase_spark.lineage import pin
from openseizuredatabase_spark.sources.lake import morton_sql
from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.tables import load_table, table_meta
from openseizuredatabase_spark.sources.width import cores

from openseizuredatabase_spark.plans._core import (  # noqa: F401
    QUERIES,
    QuerySpec,
    query,
    _t,
    _ts,
)
from openseizuredatabase_spark.plans.q_shared import (  # noqa: F401
    _EMB_DIM,
    _N3_P,
    _quantized_dot,
)


def _gen_spread(ids: DataFrame) -> DataFrame:
    """Round-robin the metadata-sized media-id frame across the
    session's cores before a synthesize+decode mapInPandas chain
    (guide §2.5 input parallelism): the local single-split events scan
    otherwise runs the whole fixture codec path — JPEG/PNG/GIF/WAV
    encode, container mux, decode, per-frame hashing — in ONE task.
    The exchange ships a few hundred id rows (free at any scale); on a
    cluster the width is the core count, not a local constant.

    Boundary (measured in the round-11 final-window A/B): only worth it
    where the per-item codec chain is heavy (the JPEG/video family —
    m49/m51/m52/m53 won 1-4 s each). For cheap single-consumer synth
    (WAV / single-image decode: m23/m34/m36/m41/m47) the extra exchange
    plus 32-way Python-worker fan-out COST 0.4-1.3 s — those call sites
    stay on the plain 1-task chain."""
    return ids.repartition(cores(ids.sparkSession))



# ---------------------------------------------------------------------------
# Splits & sampling (M1-M3)
# ---------------------------------------------------------------------------


@query(
    "m2_modulo_folds",
    """
    SELECT (event_id % 5)::INTEGER AS fold, event_type, count(*) AS n,
           count(DISTINCT event_id) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    "M2 deterministic stratified folds (splitData.py:122-218): "
    "fold = id mod k — no global sort, no driver-side id list.",
)
def m2_modulo_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_ops.modulo_folds(_t(spark, sf_dir, "events"), "event_id", 5)
    return ev.groupBy("fold", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_events"),
    )


@query(
    "m3_oversample_balance",
    """
    WITH labeled AS (
        SELECT event_id, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
        FROM events
    ), counts AS (
        SELECT label, count(*) AS cnt FROM labeled GROUP BY label
    ), factors AS (
        SELECT label, (SELECT max(cnt) FROM counts) // cnt AS factor FROM counts
    ), replicated AS (
        SELECT l.event_id, l.label,
               l.event_id::VARCHAR || '-' || i::VARCHAR AS copy_id
        FROM labeled l
        JOIN factors f ON l.label = f.label,
        unnest(generate_series(0, f.factor - 1)) AS t(i)
    )
    SELECT label, count(*) AS n_rows, count(DISTINCT copy_id) AS n_copies
    FROM replicated GROUP BY label
    """,
    "M3 class-balancing oversampler (augmentData.py:659-771): minority "
    "replicated floor(maj/min)× with synthetic `{id}-{n}` copy ids (C20); "
    "explode(sequence) — replication never shuffles.",
)
def m3_oversample_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    )
    balanced = split_ops.balance_classes(ev, "event_id", "label")
    return balanced.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("copy_id").alias("n_copies"),
    )


@query(
    "m1_train_test_split",
    f"""
    SELECT CASE WHEN ({seeded_md5_long_sql("event_id::VARCHAR", 42)}::DOUBLE
                      + 0.5) / 1152921504606846976.0 < 0.3
                THEN 'test' ELSE 'train' END AS part,
           count(*) AS n, sum(event_id)::BIGINT AS id_sum
    FROM events GROUP BY 1
    """,
    "M1 seeded event-level split (osdDbConnection.py:614-634): portable "
    "hash split — test iff (md5_long(seed:id)+0.5)/2^60 < frac. The "
    "reference's random.shuffle and Spark's randomSplit are both "
    "layout/engine-dependent; the hash split is the documented "
    "determinism-stance equivalent (same distribution, reproducible on "
    "any cluster). id_sum pins per-side membership, not just counts. "
    "randomSplit variant retained (splits.train_test_split, invariants "
    "in tests).",
)
def m1_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = split_ops.hash_split(
        _t(spark, sf_dir, "events"), "event_id", 0.3, seed=42
    )
    return (
        train.select(F.lit("train").alias("part"), "event_id")
        .unionByName(test.select(F.lit("test").alias("part"), "event_id"))
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
    )


_M5_DENOM = "1152921504606846976.0"  # 2^60, md5_long range


def _m5_unit_hash(tag: str) -> str:
    key = f"'{tag}:42:' || vec_id || ':' || copy_idx || ':' || idx"
    return (
        f"(((('0x' || substr(md5({key}), 1, 15))::BIGINT)::DOUBLE + 0.5)"
        f" / {_M5_DENOM})"
    )


@query(
    "m5_noise_augment",
    f"""
    WITH ex AS (
        SELECT e.vec_id, c.copy AS copy_idx, g.i - 1 AS idx,
               e.embedding[g.i]::DOUBLE AS x
        FROM embeddings e,
             unnest(generate_series(0, 2)) AS c(copy),
             unnest(generate_series(1, {_EMB_DIM})) AS g(i)
    ), noised AS (
        SELECT copy_idx,
               CASE WHEN copy_idx = 0 THEN x
                    ELSE x + sqrt(-2.0 * ln({_m5_unit_hash('u1')}))
                             * cos(2 * pi() * {_m5_unit_hash('u2')}) * 0.1
               END AS v
        FROM ex
    )
    SELECT copy_idx, count(*) // {_EMB_DIM} AS n_rows,
           round(sum(v), 2) AS sig_sum
    FROM noised GROUP BY copy_idx
    """,
    "M5 noise augmentation (augmentData.py:188-314): hash-derived "
    "Box-Muller N(0,σ) per element, explode-replicated copies — "
    "deterministic under repartitioning (documented RNG divergence from "
    "the reference's global numpy state). Full value oracle: DuckDB "
    "replays the identical md5→Box-Muller stream; a 2-dp-rounded grand "
    "sum absorbs libm ulp differences (≤1e-10 over 96k draws) while any "
    "key/σ/stream error shifts it by whole units.",
)
def m5_noise_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.augment import noise_augment

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("sig")
    )
    out = noise_augment(emb, "vec_id", "sig", n_copies=2, sigma=0.1, seed=42)
    return (
        out.select(
            F.split("copy_id", "-").getItem(1).cast("bigint").alias("copy_idx"),
            F.aggregate("sig", F.lit(0.0), lambda a, x: a + x).alias("s"),
        )
        .groupBy("copy_idx")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("s"), 2).alias("sig_sum"),
        )
    )


@query(
    "m6_phase_augment",
    """
    WITH cnt AS (
        SELECT user_id AS eventId, count(*) * 25 AS n
        FROM events GROUP BY user_id
    ), per AS (
        SELECT eventId,
               eventId::VARCHAR || '-phase' || k.k::VARCHAR AS phase_id,
               greatest(n - k.k * 25, 0) // 125 AS n_win
        FROM cnt, unnest(generate_series(0, 4)) AS k(k)
    )
    SELECT eventId, phase_id, n_win AS n_windows,
           n_win - 1 AS max_widx
    FROM per WHERE n_win > 0
    """,
    "M6 phase augmentation (augmentData.py:316-470): per-user value "
    "series → sliding non-overlapping windows at 5 phase offsets via "
    "applyInPandas; synthetic `{id}-phase{k}` ids (C20). Oracle pins the "
    "windowing arithmetic per (event, phase) — count and max index of "
    "the emitted windows, floor((25·rows − 25k)/125) — which any "
    "off-by-one in offset/stride/truncation breaks; window VALUES are "
    "tie-order-dependent (stable sort over duplicate ts) so stay out of "
    "the cross-engine contract.",
)
def m6_phase_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.augment import phase_augment

    # build per-user pseudo-signals from the value column (25 values per dp)
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("eventId"),
        F.col("ts"),
        F.expr("transform(sequence(0, 24), i -> value + i)").alias("sig"),
    )
    out = phase_augment(ev, "eventId", "ts", "sig", window_len=125, n_offsets=5)
    return out.groupBy("eventId", "phase_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.max("window_idx").cast("bigint").alias("max_widx"),
    )


@query(
    "m9_batch_inference",
    """
    WITH scored AS (
        SELECT label,
               1.0 / (1.0 + exp(-(
                   0.5 * (SELECT sum(x::DOUBLE)
                          FROM unnest(embedding[1:8]) AS t(x)) - 0.1
               ))) AS prob
        FROM embeddings
    )
    SELECT label, count(*) AS n,
           count(CASE WHEN prob > 0.5 THEN 1 END) AS n_pos,
           round(sum(prob), 4) AS prob_sum
    FROM scored GROUP BY label
    """,
    "M8/M9 tensor assembly + Arrow-vectorized batch inference "
    "(nnTrainer.py:61-137, nnTester.py:333-504): array-column features → "
    "pandas-UDF linear scorer → A5 event rollup of per-dp probabilities. "
    "Oracle replays sigmoid(0.5·Σx[0:8] − 0.1) in SQL: threshold counts "
    "are summation-order-proof (prob > 0.5 ⟺ z > 0), and a 4-dp-rounded "
    "probability sum pins the sigmoid values themselves (BLAS-dot vs "
    "sequential-sum drift ≤1e-13 over 500 rows).",
)
def m9_batch_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.ml.inference import LinearModel, predict_proba

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "fvec", F.slice(F.col("embedding").cast("array<double>"), 1, 8)
    )
    model = LinearModel(weights=tuple([0.5] * 8), bias=-0.1)
    scored = predict_proba(emb, model, "fvec", "prob")
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("prob") > 0.5, 1)).alias("n_pos"),
            F.round(F.sum("prob"), 4).alias("prob_sum"),
        )
    )


@query(
    "m4_user_balance",
    """
    WITH counts AS (
        SELECT user_id, count(DISTINCT event_id) AS c
        FROM events WHERE event_id < 2000 GROUP BY user_id
    ), m AS (SELECT max(c) AS mx FROM counts)
    SELECT user_id, (c * ceil(mx::DOUBLE / c))::BIGINT AS n_rows
    FROM counts, m
    """,
    "M4 user-balancing oversample (augmentData.py:126-184): per-user "
    "factor ceil(max_count/count), rows replicated executor-side via "
    "explode(sequence) — the tiny factor table broadcasts; the oracle "
    "recomputes expected row counts arithmetically.",
)
def m4_user_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.augment import user_balance_augment

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    out = user_balance_augment(ev, "user_id", "event_id")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "m7_class_duplication",
    """
    SELECT event_type, count(*) * (CASE WHEN event_type = 'error' THEN 3 ELSE 1 END) AS n_rows
    FROM events GROUP BY event_type
    """,
    "M7 tonic-clonic-style class duplication (augmentData.py:772-879): "
    "rows of one class replicated factor× via explode(sequence) and "
    "unioned with the rest — no shuffle until the verifying count.",
)
def m7_class_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.operators.augment import duplicate_class

    ev = _t(spark, sf_dir, "events")
    out = duplicate_class(ev, "event_id", F.col("event_type") == "error", 3)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))


@query(
    "m10_subtype_weights",
    """
    SELECT event_id, event_type,
           (CASE event_type WHEN 'error' THEN 5.0 WHEN 'purchase' THEN 2.0
                 ELSE 1.0 END)::DOUBLE AS sample_weight
    FROM events WHERE event_id < 500
    """,
    "M10 per-subtype sample weighting (subtype_weighting.py): broadcast "
    "map join of a tiny weight table with a default for unmapped "
    "subtypes — weight column feeds the trainer.",
)
def m10_subtype_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.ml.inference import subtype_weights

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    out = subtype_weights(
        ev, "event_type", {"error": 5.0, "purchase": 2.0}, default=1.0
    )
    return out.select("event_id", "event_type", "sample_weight")


@query(
    "m11_multimodal_decode",
    """
    WITH px AS (
        SELECT event_id AS media_id,
               (x.x * 7 + y.y * 13 + event_id * 31) % 256 AS v
        FROM events,
             unnest(generate_series(0, 8 + event_id % 9 - 1)) AS x(x),
             unnest(generate_series(0, 8 + event_id % 7 - 1)) AS y(y)
        WHERE event_id < 200
    )
    SELECT media_id, count(*) AS n_px,
           round(sum(v // 4)::DOUBLE / count(*), 6) AS feat_wsum,
           count(DISTINCT v // 4) AS n_bins_hit
    FROM px GROUP BY media_id
    """,
    "Multimodal decode/feature-extract over the REAL codec path "
    "(round-7 verdict ask #5 — the sha256 stub is retired): PNG bytes "
    "(the shared m20 corpus, every scanline filter exercised) decode "
    "through the stdlib codec inside decode_features' magic-byte "
    "dispatch and reduce to a 64-bin normalized pixel histogram — one "
    "Arrow-batched mapInPandas pass, bytes never on the driver. The "
    "report pins the histogram via its weighted sum Σ i·hist[i] "
    "(= Σ(v div 4)/n_px, integer-exact before the single divide) and "
    "the hit-bin count. Oracle replays both straight from the pixel "
    "formula — any inflate/unfilter/binning defect breaks the hash.",
)
def m11_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.multimodal import decode_features

    out = decode_features(_png_media(spark, sf_dir), 64)
    # counts_i = round(hist_i * n_px) is integer-exact (hist_i = c_i/n
    # to one double rounding; ×n recovers c_i within 0.5), so the
    # weighted sum accumulates exact integers and divides once — the
    # same op order as the oracle's sum(v//4)/n_px
    idx = F.transform(
        F.sequence(F.lit(0), F.lit(63)), lambda i: i.cast("double")
    )
    counts = F.zip_with(
        F.col("features"), idx, lambda f, i: F.round(f * F.col("n_px"), 0) * i
    )
    wsum = F.aggregate(counts, F.lit(0.0), lambda a, x: a + x)
    return out.select(
        "media_id",
        "n_px",
        F.round(wsum / F.col("n_px"), 6).alias("feat_wsum"),
        F.size(F.filter("features", lambda f: f > 0)).cast("long").alias(
            "n_bins_hit"
        ),
    )


@query(
    "m12_frame_sample",
    """
    WITH meta AS (
        SELECT event_id AS media_id, (1 + event_id % 12) AS nf,
               (6 + event_id % 4)::BIGINT AS w,
               (5 + event_id % 3)::BIGINT AS h
        FROM events WHERE event_id < 150
    ), sampled AS (
        SELECT media_id, nf, w, h, f.f AS fi,
               row_number() OVER (PARTITION BY media_id ORDER BY f.f)
                   AS rk
        FROM meta, unnest(generate_series(0, nf - 1, 3)) AS f(f)
    ), px AS (
        SELECT k.media_id, k.fi, k.nf, k.w, k.h,
               (k.media_id * 31 + k.fi * 97 + y.y * 13 + x.x * 7) % 256
                   AS v
        FROM sampled k,
             unnest(generate_series(0, k.h - 1)) AS y(y),
             unnest(generate_series(0, k.w - 1)) AS x(x)
        WHERE k.rk <= 3
    )
    SELECT media_id, fi::BIGINT AS frame_idx, nf::BIGINT AS n_frames,
           w AS width, h AS height,
           sum(v)::BIGINT AS idx_sum, min(v)::BIGINT AS idx_min,
           max(v)::BIGINT AS idx_max
    FROM px GROUP BY media_id, fi, nf, w, h
    """,
    "Video frame sampling with REAL frame decode (round-7 verdict ask "
    "#5 — `_stub_decode` retired from every registry path): animated "
    "GIFs of 1-12 frames encode through the repo's LZW encoder, "
    "frame_sample decodes them back (stdlib variable-width LZW), takes "
    "every 3rd frame up to 3 per video (the cap bites at n_frames ≥ "
    "10), and emits the sampled frames' true palette-index stats — one "
    "row-expanding mapInPandas stage, bytes never on the driver. "
    "MP4 containers fail fast with NotImplementedError (pytest-pinned; "
    "MJPEG AVIs have their own frame path since round 10 — m50). LZW "
    "is lossless, so the oracle replays the sampled-index arithmetic "
    "and the exact pixel formula.",
)
def m12_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_gif,
        frame_sample,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 150).select(
        F.col("event_id").alias("media_id")
    )
    i = np.arange(256, dtype=np.int64)
    palette = np.stack([i, i, i], axis=1).astype(np.uint8)

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 6 + mid % 4, 5 + mid % 3
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                frames = [
                    ((mid * 31 + f * 97 + y * 13 + x * 7) % 256).astype(
                        np.uint8
                    )
                    for f in range(1 + mid % 12)
                ]
                rows.append((mid, "video", encode_gif(frames, palette)))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content"]
            )

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, media_type string, content binary")
    return frame_sample(media, every_n=3, max_frames=3)


@query(
    "m46_image_dhash_dedup",
    """
    WITH img AS (
        SELECT event_id AS media_id, event_id % 150 AS pid,
               (8 + (event_id % 150) % 5)::BIGINT AS w,
               (8 + (event_id % 150) % 4)::BIGINT AS h
        FROM events WHERE event_id < 300
    ), px AS (
        SELECT media_id, g.gy AS gy, g2.gx AS gx,
               (((g2.gx * w) // 9) * ((g2.gx * w) // 9) * 7
                + ((g.gy * h) // 8) * ((g.gy * h) // 8) * 13
                + ((g2.gx * w) // 9) * ((g.gy * h) // 8) * (pid + 3)
                + pid * 31
                + CASE WHEN media_id >= 150
                            AND (g2.gx * w) // 9 = 0
                            AND (g.gy * h) // 8 = 0
                       THEN 97 ELSE 0 END) % 256 AS v
        FROM img,
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), bits AS (
        SELECT media_id, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY media_id, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM px
    ), halves AS (
        SELECT media_id,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM bits WHERE gx < 8 GROUP BY media_id
    ), bands AS (
        SELECT media_id, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM halves, unnest(generate_series(0, 3)) AS b(band)
    ), cand AS (
        SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
               a.h0 AS h0a, a.h1 AS h1a, c.h0 AS h0b, c.h1 AS h1b
        FROM bands a
        JOIN bands c ON a.band = c.band AND a.v = c.v
                     AND a.media_id < c.media_id
    )
    SELECT id_a, id_b,
           (bit_count(xor(h0a, h0b))
            + bit_count(xor(h1a, h1b)))::BIGINT AS hamming,
           (bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b))) = 0
               AS is_exact
    FROM cand
    WHERE bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 6
    """,
    "Image near-dup dedup over REAL decoded pixels (dHash — the "
    "perceptual-hash tier the multimodal lake needs beside text "
    "MinHash): PNGs decode through the stdlib codec, nearest-neighbor "
    "downsample to a 9x8 grid (integer index math, the m21 resample "
    "convention), horizontal brightness comparisons pack into two "
    "32-bit halves, and near-dups surface through a banded Hamming "
    "self-join (4x16-bit bands; pigeonhole-complete at <=3 flipped "
    "bits, conventional recall trade above) verified with exact "
    "popcount <= 6 — never an all-pairs scan; at lake scale the join "
    "key is the 16-bit band. Corpus: 150 structurally distinct quadratic-texture classes x2 (cross-class dHashes differ by far more than 6 bits, so the result is exactly the engineered within-class pairs) where the "
    "second copy perturbs one source pixel (the sampled (0,0)), giving "
    "exact or tiny-Hamming pairs. Oracle replays the downsample/bit/"
    "band/popcount arithmetic straight off the pixel formula — only "
    "sampled grid pixels are ever materialized.",
)
def m46_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        dhash_near_dup_pairs,
        encode_png,
        image_dhash,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 300).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid = mid % 150
                w, h = 8 + pid % 5, 8 + pid % 4
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                pix = (
                    x * x * 7 + y * y * 13 + x * y * (pid + 3) + pid * 31
                ) % 256
                if mid >= 150:
                    pix = pix.copy()
                    pix[0, 0] = (pix[0, 0] + 97) % 256
                rows.append((mid, encode_png(pix.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    return dhash_near_dup_pairs(image_dhash(media), max_hamming=6)


@query(
    "m47_audio_fingerprint",
    """
    WITH peaks AS (
        SELECT event_id AS media_id, g.k AS k,
               1 + ((event_id % 100) * 7 + g.k * 13
                    + (((event_id % 100) * (event_id % 100) * 3) % 31)
                      * (g.k + 1)) % 30 AS b
        FROM events, unnest(generate_series(0, 3)) AS g(k)
        WHERE event_id < 200
    ), codes AS (
        SELECT media_id, k,
               b * 64 + lead(b) OVER (PARTITION BY media_id ORDER BY k)
                   AS code
        FROM peaks
    ), fp AS (
        SELECT DISTINCT media_id, code FROM codes WHERE code IS NOT NULL
    )
    SELECT a.media_id AS id_a, c.media_id AS id_b,
           count(DISTINCT a.code) AS n_common
    FROM fp a JOIN fp c ON a.code = c.code AND a.media_id < c.media_id
    GROUP BY a.media_id, c.media_id
    HAVING count(DISTINCT a.code) >= 2
    """,
    "Audio near-dup fingerprinting over REAL decoded samples (the "
    "audio tier beside text MinHash and image dHash m46 — Shazam-style "
    "constellation): 200 PCM-WAV clips (4 bin-exact tone segments of "
    "64 samples each, int16-quantized through the repo's encoder) "
    "decode through the stdlib codec; per segment the spectral peak "
    "(DFT argmax over bins 1..31) is decisively the tone bin, "
    "consecutive peaks pack into landmark codes, and near-dups "
    "surface by joining on the landmark code with the >= 2-agreement "
    "rule — a bucketed join, never all-pairs. Tracks 100 apart share "
    "the tone program, so the engineered pairs match on all 3 "
    "landmarks. Oracle derives the peak bins analytically from the "
    "tone program — any decode/windowing/DFT/argmax defect in the "
    "engine breaks the match.",
)
def m47_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        audio_fingerprint,
        encode_wav,
        fingerprint_match_pairs,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid = mid % 100
                segs = []
                i = np.arange(64)
                for k in range(4):
                    b = 1 + (pid * 7 + k * 13
                             + ((pid * pid * 3) % 31) * (k + 1)) % 30
                    segs.append(
                        np.round(8000.0 * np.sin(2 * np.pi * b * i / 64.0))
                    )
                rows.append(
                    (mid, encode_wav(np.concatenate(segs), rate=8000))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = ev.mapInPandas(gen, "media_id long, content binary")
    return fingerprint_match_pairs(audio_fingerprint(media, window=64))


@query(
    "m54_audio_clip_consensus",
    """
    WITH peaks AS (
        SELECT event_id AS pid, g.k AS k,
               1 + (event_id * 7 + g.k * 13
                    + ((event_id * event_id * 3) % 31) * (g.k + 1)) % 30
                   AS b
        FROM events, unnest(generate_series(0, 7)) AS g(k)
        WHERE event_id < 100
    ), tcodes AS (
        SELECT pid, k,
               b * 64 + lead(b) OVER (PARTITION BY pid ORDER BY k)
                   AS code
        FROM peaks
    ), tfp AS (
        SELECT pid, k, code FROM tcodes WHERE code IS NOT NULL
    ), cfp AS (
        -- clip i = segments s..s+3 of track i (s = i%4): identical
        -- int16 samples, so its landmarks ARE track landmarks
        -- k = s..s+2 re-keyed to clip positions 0..2
        SELECT pid + 100 AS cid, k - (pid % 4) AS pk, code
        FROM tfp WHERE k BETWEEN pid % 4 AND pid % 4 + 2
    ), hits AS (
        SELECT c.cid, c.pk, t.pid, t.k
        FROM cfp c JOIN tfp t ON c.code = t.code
    )
    SELECT cid AS clip_id, pid AS track_id,
           (k - pk)::BIGINT AS seg_offset,
           count(DISTINCT pk)::BIGINT AS votes
    FROM hits GROUP BY cid, pid, k - pk
    HAVING count(DISTINCT pk) >= 2
    """,
    "Audio clip matching with temporal-offset consensus — m53's "
    "diagonal-histogram discipline on the constellation tier (the "
    "full Shazam shape m47's bare >= 2-code rule approximates): which "
    "track does this clip come from, and at what segment position. "
    "Corpus: 100 8-segment tone tracks; probes: 4-segment clip "
    "extractions at offsets 0-3, re-encoded PCM (bit-identical "
    "samples -> identical spectral peaks). Landmark codes match by "
    "equi-join (bucketed, never all-pairs), then "
    "offset_consensus_matches keeps only (clip, track, track_k - "
    "clip_k) diagonals with >= 2 distinct clip landmarks — true "
    "matches assemble 3 votes at the extraction offset, coincidental "
    "shared codes scatter. Oracle derives the peak bins analytically "
    "from the tone program and clip landmarks by SELECTION from track "
    "landmarks (a decode/DFT/argmax/windowing defect breaks the "
    "match), then replays join + histogram.",
)
def m54_audio_clip_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        audio_fingerprint,
        encode_wav,
        offset_consensus_matches,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            i = np.arange(64)
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid = mid % 100
                if mid < 100:
                    ks = range(8)
                else:
                    s = pid % 4
                    ks = range(s, s + 4)
                segs = []
                for k in ks:
                    b = 1 + (pid * 7 + k * 13
                             + ((pid * pid * 3) % 31) * (k + 1)) % 30
                    segs.append(
                        np.round(8000.0 * np.sin(2 * np.pi * b * i / 64.0))
                    )
                rows.append(
                    (mid, encode_wav(np.concatenate(segs), rate=8000))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    # corpus and probe branches both replay this frame: pin the narrow
    # landmark table so WAV synth + FFT fingerprinting runs once
    fps = pin(audio_fingerprint(media, window=64))
    corpus = fps.filter(F.col("media_id") < 100).select(
        F.col("media_id").alias("corpus_id"),
        F.col("k").alias("c_k"),
        "code",
    )
    probes = fps.filter(F.col("media_id") >= 100).select(
        F.col("media_id").alias("probe_id"),
        F.col("k").alias("p_k"),
        "code",
    )
    pairs = probes.join(corpus, "code")
    out = offset_consensus_matches(pairs, "p_k", "c_k", min_votes=2)
    return out.select(
        F.col("probe_id").alias("clip_id"),
        F.col("corpus_id").alias("track_id"),
        F.col("offset").alias("seg_offset"),
        F.col("votes").cast("long").alias("votes"),
    )


@query(
    "m48_scene_changes",
    """
    WITH img AS (
        SELECT event_id AS media_id,
               (9 + event_id % 4)::BIGINT AS w,
               (8 + event_id % 3)::BIGINT AS h
        FROM events WHERE event_id < 120
    ), px AS (
        SELECT media_id, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (((g2.gx * w) // 9) * ((g2.gx * w) // 9) * 7
                + ((g.gy * h) // 8) * ((g.gy * h) // 8) * 13
                + ((g2.gx * w) // 9) * ((g.gy * h) // 8)
                  * (media_id + (f.f // 4) * 17 + 3)
                + (f.f // 4) * 31 + media_id * 5
                + CASE WHEN (g2.gx * w) // 9 = 0 AND (g.gy * h) // 8 = 0
                       THEN (f.f % 4) * 9 ELSE 0 END) % 256 AS v
        FROM img,
             unnest(generate_series(0, 11)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), bits AS (
        SELECT media_id, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY media_id, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM px
    ), halves AS (
        SELECT media_id, fi,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM bits WHERE gx < 8 GROUP BY media_id, fi
    ), seq AS (
        SELECT media_id, fi, h0, h1,
               lag(h0) OVER (PARTITION BY media_id ORDER BY fi) AS p0,
               lag(h1) OVER (PARTITION BY media_id ORDER BY fi) AS p1
        FROM halves
    )
    SELECT media_id, fi::BIGINT AS frame_idx,
           CASE WHEN p0 IS NULL THEN NULL
                ELSE (bit_count(xor(h0, p0))
                      + bit_count(xor(h1, p1)))::BIGINT END AS hamming,
           CASE WHEN p0 IS NULL THEN TRUE
                ELSE bit_count(xor(h0, p0)) + bit_count(xor(h1, p1)) > 12
           END AS is_boundary
    FROM seq
    """,
    "Video scene-change detection over REAL decoded frames (the "
    "frame-sampling budget allocator a multimodal lake wants: sample "
    "per scene, not per fixed stride): 12-frame GIFs with three "
    "quadratic-texture scenes and per-frame one-pixel jitter decode "
    "through the stdlib LZW codec; each frame takes the shared dHash "
    "(the m46 core) and a predecessor Hamming > 12 of 64 bits marks a "
    "boundary — within-scene jitter flips at most a couple of "
    "comparison bits, a cut rewrites the texture. One mapInPandas "
    "stage, frames never on the driver. Oracle replays the grid/bit/"
    "popcount arithmetic per frame straight off the pixel formula "
    "with a lag() window over frame order.",
)
def m48_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_gif,
        gif_scene_changes,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 120).select(
        F.col("event_id").alias("media_id")
    )
    i = np.arange(256, dtype=np.int64)
    palette = np.stack([i, i, i], axis=1).astype(np.uint8)

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 9 + mid % 4, 8 + mid % 3
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                frames = []
                for f in range(12):
                    s = f // 4
                    pix = (
                        x * x * 7 + y * y * 13
                        + x * y * (mid + s * 17 + 3)
                        + s * 31 + mid * 5
                    ) % 256
                    pix = pix.copy()
                    pix[0, 0] = (pix[0, 0] + (f % 4) * 9) % 256
                    frames.append(pix.astype(np.uint8))
                rows.append((mid, encode_gif(frames, palette)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    return gif_scene_changes(media, threshold=12)


@query(
    "m49_video_near_dup",
    """
    WITH img AS (
        SELECT event_id AS media_id, event_id % 100 AS pid,
               (9 + (event_id % 100) % 4)::BIGINT AS w,
               (8 + (event_id % 100) % 3)::BIGINT AS h
        FROM events WHERE event_id < 200
    ), px AS (
        SELECT media_id, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (((g2.gx * w) // 9) * ((g2.gx * w) // 9) * 7
                + ((g.gy * h) // 8) * ((g.gy * h) // 8) * 13
                + ((g2.gx * w) // 9) * ((g.gy * h) // 8)
                  * (pid + (f.f // 3) * 17 + 3)
                + (f.f // 3) * 31 + pid * 5
                + CASE WHEN (g2.gx * w) // 9 = 0 AND (g.gy * h) // 8 = 0
                       THEN (f.f % 3) * 9 + (media_id // 100) * 13
                       ELSE 0 END) % 256 AS v
        FROM img,
             unnest(generate_series(0, 8)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), bits AS (
        SELECT media_id, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY media_id, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM px
    ), halves AS (
        SELECT media_id * 1000 + fi AS k, media_id AS vid,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM bits WHERE gx < 8 GROUP BY media_id, fi
    ), bands AS (
        SELECT k, vid, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM halves, unnest(generate_series(0, 3)) AS b(band)
    ), cand AS (
        SELECT DISTINCT a.k AS ka, c.k AS kb, a.vid AS va, c.vid AS vb,
               a.h0 AS h0a, a.h1 AS h1a, c.h0 AS h0b, c.h1 AS h1b
        FROM bands a
        JOIN bands c ON a.band = c.band AND a.v = c.v AND a.k < c.k
    ), fp AS (
        SELECT ka, kb, least(va, vb) AS id_a, greatest(va, vb) AS id_b
        FROM cand
        WHERE va <> vb
          AND bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 6
    )
    SELECT id_a, id_b,
           count(DISTINCT ka * 1000000 + kb) AS n_frame_matches
    FROM fp GROUP BY id_a, id_b
    HAVING count(DISTINCT ka * 1000000 + kb) >= 2
    """,
    "Video near-dup pairs over REAL decoded frames — the video tier "
    "completing the near-dup matrix (text MinHash, image dHash m46, "
    "audio constellation m47): per-frame dHashes (shared m46 core) "
    "through the stdlib GIF codec, frame-level candidates via the "
    "banded Hamming self-join, then two videos match when >= 2 "
    "DISTINCT frame pairs agree (m47's multi-landmark rule applied to "
    "frames) — bucketed joins at both levels, never all-pairs. "
    "Corpus: 100 three-scene quadratic-texture videos x2 where the "
    "second copy perturbs one source pixel per frame (Hamming <= 2 "
    "per frame pair — inside the pigeonhole-complete band regime). "
    "Oracle replays the grid/bit/band/popcount arithmetic and the "
    "aggregation straight off the pixel formula.",
)
def m49_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_gif,
        gif_frame_dhashes,
        video_near_dup_pairs,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )
    i = np.arange(256, dtype=np.int64)
    palette = np.stack([i, i, i], axis=1).astype(np.uint8)

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid = mid % 100
                w, h = 9 + pid % 4, 8 + pid % 3
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                frames = []
                for f in range(9):
                    s = f // 3
                    pix = (
                        x * x * 7 + y * y * 13
                        + x * y * (pid + s * 17 + 3)
                        + s * 31 + pid * 5
                    ) % 256
                    pix = pix.copy()
                    pix[0, 0] = (
                        pix[0, 0] + (f % 3) * 9 + (mid // 100) * 13
                    ) % 256
                    frames.append(pix.astype(np.uint8))
                rows.append((mid, encode_gif(frames, palette)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    return video_near_dup_pairs(
        gif_frame_dhashes(media), max_hamming=6, min_frame_matches=2
    )


@query(
    "m50_mjpeg_avi_frames",
    """
    WITH vid AS (
        SELECT event_id AS media_id,
               (2 + event_id % 3)::BIGINT AS bw,
               (2 + event_id % 2)::BIGINT AS bh,
               (1 + event_id % 5)::BIGINT AS nf
        FROM events WHERE event_id < 150
    ), blk AS (
        SELECT media_id, bw, bh, nf, f.f AS fi, by.by AS by, bx.bx AS bx,
               (media_id * 31 + f.f * 41 + by.by * 47 + bx.bx * 23) % 256
                   AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS f(f),
             unnest(generate_series(0, bh - 1)) AS by(by),
             unnest(generate_series(0, bw - 1)) AS bx(bx)
    ), stats AS (
        SELECT media_id, fi, nf, bw * 8 AS width, bh * 8 AS height,
               (sum(v) * 64)::BIGINT AS px_sum,
               min(v)::BIGINT AS px_min, max(v)::BIGINT AS px_max
        FROM blk GROUP BY media_id, fi, nf, bw, bh
    ), grid AS (
        -- 9x8 dHash grid: sampled pixel (gy*h)//8, (gx*w)//9 falls in
        -- block ((gy*bh*8//8)//8, ((gx*bw*8)//9)//8); JPEG is exact on
        -- uniform blocks at q=100, so the grid value IS the block value
        SELECT media_id, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (media_id * 31 + f.f * 41
                + ((g.gy * bh) // 8) * 47
                + (((g2.gx * bw * 8) // 9) // 8) * 23) % 256 AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), bits AS (
        SELECT media_id, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY media_id, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM grid
    ), halves AS (
        SELECT media_id, fi,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM bits WHERE gx < 8 GROUP BY media_id, fi
    )
    SELECT s.media_id, s.fi::BIGINT AS frame_idx, s.nf AS n_frames,
           s.width, s.height, s.px_sum, s.px_min, s.px_max, h.h0, h.h1
    FROM stats s
    JOIN halves h ON h.media_id = s.media_id AND h.fi = s.fi
    """,
    "MJPEG-in-AVI container decode (the last real-corpus video "
    "container class; MP4/ISO-BMFF stays fail-fast — pytest-pinned): "
    "videos of 1-5 uniform-8x8-block grayscale JPEG frames (quality "
    "100, per-video restart intervals) are muxed into real RIFF-AVI "
    "files (hdrl/avih/strl/strh/strf + movi '00dc' chunks + idx1), "
    "then mjpeg_frame_stats demuxes via the RIFF chunk walk, decodes "
    "each frame through the SAME stdlib baseline-JPEG decoder m34 "
    "pinned, and emits per-frame pixel stats plus the shared-core "
    "dHash halves. Uniform blocks make the lossy pipeline EXACT (m34's "
    "trick), so the oracle replays stats AND the 9x8-grid dHash bit "
    "math straight from the block formula — a chunk-walk, Huffman, "
    "IDCT, addressing or grid defect breaks the hash. One mapInPandas "
    "stage; frame bytes never on the driver.",
)
def m50_mjpeg_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg,
        mjpeg_frame_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 150).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                bw, bh, nf = 2 + mid % 3, 2 + mid % 2, 1 + mid % 5
                jpegs = []
                for f in range(nf):
                    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                    for by in range(bh):
                        for bx in range(bw):
                            img[
                                by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                            ] = (mid * 31 + f * 41 + by * 47 + bx * 23) % 256
                    jpegs.append(
                        encode_jpeg(
                            img, quality=100, restart_interval=1 + mid % 4
                        )
                    )
                rows.append(
                    (mid, encode_avi_mjpeg(jpegs, bw * 8, bh * 8))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    return mjpeg_frame_stats(media)


@query(
    "m51_mjpeg_video_near_dup",
    """
    WITH vid AS (
        SELECT event_id AS media_id, event_id % 100 AS pid,
               event_id // 100 AS cp,
               (6 + (event_id % 100) % 3)::BIGINT AS bw,
               (3 + (event_id % 100) % 2)::BIGINT AS bh,
               (4 + (event_id % 100) % 3)::BIGINT AS nf
        FROM events WHERE event_id < 200
    ), grid AS (
        SELECT media_id, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (f.f * 41
                + ((g.gy * bh) // 8) * ((g.gy * bh) // 8)
                  * (47 + pid % 31)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g2.gx * bw * 8) // 9) // 8) * (23 + pid % 29)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g.gy * bh) // 8) + 1) * (3 + pid % 53)
                + CASE WHEN f.f >= 3
                       THEN cp * (9 * (((g2.gx * bw * 8) // 9) // 8)
                                  + 5 * ((g.gy * bh) // 8) + 13)
                       ELSE 0 END) % 256 AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), bits AS (
        SELECT media_id, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY media_id, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM grid
    ), halves AS (
        SELECT media_id * 1000 + fi AS k, media_id AS vid,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM bits WHERE gx < 8 GROUP BY media_id, fi
    ), bands AS (
        SELECT k, vid, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM halves, unnest(generate_series(0, 3)) AS b(band)
    ), cand AS (
        SELECT DISTINCT a.k AS ka, c.k AS kb, a.vid AS va, c.vid AS vb,
               a.h0 AS h0a, a.h1 AS h1a, c.h0 AS h0b, c.h1 AS h1b
        FROM bands a
        JOIN bands c ON a.band = c.band AND a.v = c.v AND a.k < c.k
    ), fp AS (
        SELECT ka, kb, least(va, vb) AS id_a, greatest(va, vb) AS id_b
        FROM cand
        WHERE va <> vb
          AND bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 6
    )
    SELECT id_a, id_b,
           count(DISTINCT ka * 1000000 + kb) AS n_frame_matches
    FROM fp GROUP BY id_a, id_b
    HAVING count(DISTINCT ka * 1000000 + kb) >= 2
    """,
    "MJPEG video near-dup — m49's video tier with the AVI container "
    "in place of GIF, proving the near-dup machinery is "
    "container-agnostic: mjpeg_frame_stats' (h0, h1) frame hashes "
    "(RIFF chunk walk + exact uniform-block JPEG decode + shared dHash "
    "core) feed video_near_dup_pairs unchanged — banded Hamming "
    "self-join at the frame level, >= 2 DISTINCT frame-pair matches at "
    "the video level, never all-pairs at either level. Corpus: 100 "
    "quadratic-block-texture videos (pid-keyed coefficients so "
    "distinct videos land far in Hamming space — dHash is "
    "shift-invariant, so pid must multiply SPATIAL terms) x2 where "
    "the copy spatially perturbs frames >= 3 only, so each copy pair "
    "shares its first three frames byte-exactly and diverges after — "
    "video-level near-dup through partial frame overlap, the "
    "clipped-re-upload shape. Oracle replays grid/bit/band/popcount "
    "and both aggregation levels from the block formula.",
)
def m51_mjpeg_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg,
        mjpeg_frame_stats,
        video_near_dup_pairs,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid, cp = mid % 100, mid // 100
                bw, bh, nf = 6 + pid % 3, 3 + pid % 2, 4 + pid % 3
                jpegs = []
                for f in range(nf):
                    img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                    for by in range(bh):
                        for bx in range(bw):
                            img[
                                by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                            ] = (
                                f * 41
                                + by * by * (47 + pid % 31)
                                + bx * bx * (23 + pid % 29)
                                + bx * (by + 1) * (3 + pid % 53)
                                + (
                                    cp * (9 * bx + 5 * by + 13)
                                    if f >= 3
                                    else 0
                                )
                            ) % 256
                    jpegs.append(encode_jpeg(img, quality=100))
                rows.append(
                    (mid, encode_avi_mjpeg(jpegs, bw * 8, bh * 8))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    hashes = mjpeg_frame_stats(media).select(
        "media_id", "frame_idx", "h0", "h1"
    )
    return video_near_dup_pairs(hashes, max_hamming=6, min_frame_matches=2)


@query(
    "m52_image_video_provenance",
    """
    WITH vid AS (
        SELECT event_id AS pid,
               (6 + event_id % 3)::BIGINT AS bw,
               (3 + event_id % 2)::BIGINT AS bh,
               (4 + event_id % 3)::BIGINT AS nf
        FROM events WHERE event_id < 100
    ), vgrid AS (
        SELECT pid, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (f.f * 41
                + ((g.gy * bh) // 8) * ((g.gy * bh) // 8)
                  * (47 + pid % 31)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g2.gx * bw * 8) // 9) // 8) * (23 + pid % 29)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g.gy * bh) // 8) + 1) * (3 + pid % 53)) % 256 AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), igrid AS (
        -- image i is the exact pixel plane of video i's frame i%4,
        -- re-encoded through a DIFFERENT codec (PNG)
        SELECT pid + 100 AS iid, pid, pid % 4 AS fi, gy, gx, v
        FROM vgrid WHERE fi = pid % 4
    ), vbits AS (
        SELECT pid, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY pid, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM vgrid
    ), ibits AS (
        SELECT iid, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY iid, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM igrid
    ), vh AS (
        SELECT pid, fi,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM vbits WHERE gx < 8 GROUP BY pid, fi
    ), ih AS (
        SELECT iid,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM ibits WHERE gx < 8 GROUP BY iid
    ), ibands AS (
        SELECT iid, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM ih, unnest(generate_series(0, 3)) AS b(band)
    ), vbands AS (
        SELECT pid, fi, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM vh, unnest(generate_series(0, 3)) AS b(band)
    ), cand AS (
        SELECT DISTINCT i.iid, c.pid, c.fi,
               i.h0 AS h0a, i.h1 AS h1a, c.h0 AS h0b, c.h1 AS h1b
        FROM ibands i JOIN vbands c ON i.band = c.band AND i.v = c.v
    )
    SELECT iid AS image_id, pid AS video_id, fi::BIGINT AS frame_idx,
           (bit_count(xor(h0a, h0b))
            + bit_count(xor(h1a, h1b)))::BIGINT AS hamming
    FROM cand
    WHERE bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 2
    """,
    "Cross-modal provenance lookup — which videos contain this still "
    "image as a frame (the thumbnail-to-clip / training-data "
    "contamination question for media corpora): probe = still-image "
    "dHashes decoded through the PNG codec, corpus = per-frame MJPEG "
    "AVI dHashes through the RIFF+JPEG path, matched by the two-sided "
    "banded Hamming join (dhash_probe_pairs) at <= 2 bits — complete "
    "by pigeonhole over the 4x16 bands, never probe x corpus. The "
    "fingerprint is pixel-level, so the probe and corpus codecs "
    "differ freely (PNG round-trips losslessly; the uniform-block "
    "q100 JPEG frames decode exactly) — each image matches its source "
    "frame at Hamming 0 plus any deterministic texture collisions, "
    "all replayed by the oracle from the block formula through both "
    "hash paths and the band join. At 100 TB the probe side is "
    "query-sized, so AQE downgrades its exchange to a broadcast: one "
    "corpus scan per lookup batch.",
)
def m52_image_video_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        dhash_probe_pairs,
        encode_avi_mjpeg,
        encode_jpeg,
        encode_png,
        image_dhash,
        mjpeg_frame_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def frame_pixels(pid: int, f: int) -> "np.ndarray":
        bw, bh = 6 + pid % 3, 3 + pid % 2
        img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
        for by in range(bh):
            for bx in range(bw):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    f * 41
                    + by * by * (47 + pid % 31)
                    + bx * bx * (23 + pid % 29)
                    + bx * (by + 1) * (3 + pid % 53)
                ) % 256
        return img

    def gen(batches):
        for pdf in batches:
            vids, imgs = [], []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid < 100:
                    nf = 4 + mid % 3
                    jpegs = [
                        encode_jpeg(frame_pixels(mid, f), quality=100)
                        for f in range(nf)
                    ]
                    bw, bh = 6 + mid % 3, 3 + mid % 2
                    vids.append(
                        (mid, "video",
                         encode_avi_mjpeg(jpegs, bw * 8, bh * 8))
                    )
                else:
                    pid = mid - 100
                    imgs.append(
                        (mid, "image",
                         encode_png(frame_pixels(pid, pid % 4)))
                    )
            yield pd.DataFrame(
                vids + imgs,
                columns=["media_id", "media_type", "content"],
            )

    # the video branch and the image branch each replay their
    # filter over this frame — without a pin the whole corpus is
    # SYNTHESIZED twice (encode is the expensive half of the
    # fixture codec path); the bytes are a bounded fixture corpus
    media = pin(
        _gen_spread(ev).mapInPandas(
            gen, "media_id long, media_type string, content binary"
        )
    )
    frames = mjpeg_frame_stats(
        media.filter(F.col("media_type") == "video")
    ).select("media_id", "frame_idx", "h0", "h1")
    probes = image_dhash(
        media.filter(F.col("media_type") == "image")
    ).select("media_id", "h0", "h1")
    out = dhash_probe_pairs(
        probes, frames, max_hamming=2, corpus_extra=("frame_idx",)
    )
    return out.select(
        F.col("probe_id").alias("image_id"),
        F.col("corpus_id").alias("video_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "hamming",
    )


@query(
    "m53_clip_offset_consensus",
    """
    WITH vid AS (
        SELECT event_id AS pid,
               (6 + event_id % 3)::BIGINT AS bw,
               (3 + event_id % 2)::BIGINT AS bh,
               (5 + event_id % 2)::BIGINT AS nf
        FROM events WHERE event_id < 100
    ), vgrid AS (
        SELECT pid, f.f AS fi, g.gy AS gy, g2.gx AS gx,
               (f.f * 41
                + ((g.gy * bh) // 8) * ((g.gy * bh) // 8)
                  * (47 + pid % 31)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g2.gx * bw * 8) // 9) // 8) * (23 + pid % 29)
                + (((g2.gx * bw * 8) // 9) // 8)
                  * (((g.gy * bh) // 8) + 1) * (3 + pid % 53)) % 256 AS v
        FROM vid,
             unnest(generate_series(0, nf - 1)) AS f(f),
             unnest(generate_series(0, 7)) AS g(gy),
             unnest(generate_series(0, 8)) AS g2(gx)
    ), vbits AS (
        SELECT pid, fi, gy, gx,
               CASE WHEN lead(v) OVER (PARTITION BY pid, fi, gy
                                       ORDER BY gx) > v
                    THEN 1 ELSE 0 END AS bit
        FROM vgrid
    ), vh AS (
        SELECT pid, fi,
               sum(CASE WHEN gy < 4
                        THEN bit::BIGINT << (gy * 8 + gx) ELSE 0 END
                  )::BIGINT AS h0,
               sum(CASE WHEN gy >= 4
                        THEN bit::BIGINT << ((gy - 4) * 8 + gx) ELSE 0 END
                  )::BIGINT AS h1
        FROM vbits WHERE gx < 8 GROUP BY pid, fi
    ), ch AS (
        -- clip i = frames s..s+2 of video i (s = i%3), re-encoded;
        -- deterministic q100 uniform-block JPEG -> byte-identical
        -- frames, so clip hashes ARE the source-frame hashes
        SELECT pid + 100 AS cid, fi - (pid % 3) AS pfi, h0, h1
        FROM vh WHERE fi BETWEEN pid % 3 AND pid % 3 + 2
    ), cbands AS (
        SELECT cid, pfi, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM ch, unnest(generate_series(0, 3)) AS b(band)
    ), vbands AS (
        SELECT pid, fi, h0, h1, b.band AS band,
               CASE b.band WHEN 0 THEN h0 % 65536
                           WHEN 1 THEN h0 // 65536
                           WHEN 2 THEN h1 % 65536
                           ELSE h1 // 65536 END AS v
        FROM vh, unnest(generate_series(0, 3)) AS b(band)
    ), cand AS (
        SELECT DISTINCT c.cid, c.pfi, w.pid, w.fi,
               c.h0 AS h0a, c.h1 AS h1a, w.h0 AS h0b, w.h1 AS h1b
        FROM cbands c JOIN vbands w ON c.band = w.band AND c.v = w.v
    ), hits AS (
        SELECT cid, pfi, pid, fi
        FROM cand
        WHERE bit_count(xor(h0a, h0b)) + bit_count(xor(h1a, h1b)) <= 2
    )
    SELECT cid AS clip_id, pid AS video_id,
           (fi - pfi)::BIGINT AS frame_offset,
           count(DISTINCT pfi)::BIGINT AS votes
    FROM hits GROUP BY cid, pid, fi - pfi
    HAVING count(DISTINCT pfi) >= 2
    """,
    "Video clip matching with temporal-offset consensus — the "
    "production subsequence matcher (which source video does this "
    "clip come from, and at what position): per-frame dHashes through "
    "the MJPEG AVI path for both sides, frame-level candidates via "
    "the two-sided banded Hamming join, then Shazam's offset "
    "histogram (offset_consensus_matches): a clip matches only where "
    "its frames AGREE on one (corpus_time - probe_time) diagonal, "
    "votes = distinct probe frames on it. Strictly stronger than bare "
    "shared-frame counting (m51): coincidental hash hits scatter "
    "across offsets and never assemble a diagonal. Corpus: 100 "
    "quadratic-texture videos of 5-6 frames; clips = 3-frame "
    "extractions at start offsets 0-2, re-encoded (deterministic "
    "q100 -> byte-identical frames), so every clip matches its source "
    "with 3 votes at its extraction offset. Oracle derives clip "
    "hashes by SELECTION from the source-frame hashes (the "
    "byte-identity claim is itself checked: a re-encode divergence "
    "would break the hash) and replays band join + diagonal "
    "histogram. Consensus adds ONE shuffle over already-matched "
    "pairs.",
)
def m53_clip_offset_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        dhash_probe_pairs,
        encode_avi_mjpeg,
        encode_jpeg,
        mjpeg_frame_stats,
        offset_consensus_matches,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def frame_pixels(pid: int, f: int) -> "np.ndarray":
        bw, bh = 6 + pid % 3, 3 + pid % 2
        img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
        for by in range(bh):
            for bx in range(bw):
                img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    f * 41
                    + by * by * (47 + pid % 31)
                    + bx * bx * (23 + pid % 29)
                    + bx * (by + 1) * (3 + pid % 53)
                ) % 256
        return img

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                pid = mid if mid < 100 else mid - 100
                bw, bh = 6 + pid % 3, 3 + pid % 2
                if mid < 100:
                    fs = range(5 + pid % 2)
                else:
                    s = pid % 3
                    fs = range(s, s + 3)
                jpegs = [
                    encode_jpeg(frame_pixels(pid, f), quality=100)
                    for f in fs
                ]
                rows.append(
                    (mid, encode_avi_mjpeg(jpegs, bw * 8, bh * 8))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    # corpus and probe branches both replay this frame: pin the narrow
    # per-frame fingerprints so synth+decode runs once (guide §8 —
    # decide with small rows)
    frames = pin(
        mjpeg_frame_stats(media).select("media_id", "frame_idx", "h0", "h1")
    )
    corpus = frames.filter(F.col("media_id") < 100)
    probes = frames.filter(F.col("media_id") >= 100).select(
        "media_id", F.col("frame_idx").alias("p_frame_idx"), "h0", "h1"
    )
    pairs = dhash_probe_pairs(
        probes,
        corpus,
        max_hamming=2,
        probe_extra=("p_frame_idx",),
        corpus_extra=("frame_idx",),
    )
    out = offset_consensus_matches(
        pairs, "p_frame_idx", "frame_idx", min_votes=2
    )
    return out.select(
        F.col("probe_id").alias("clip_id"),
        F.col("corpus_id").alias("video_id"),
        F.col("offset").alias("frame_offset"),
        F.col("votes").cast("long").alias("votes"),
    )


@query(
    "m20_png_decode",
    """
    WITH px AS (
        SELECT event_id AS media_id,
               (8 + event_id % 9)::BIGINT AS w,
               (8 + event_id % 7)::BIGINT AS h,
               (x.x * 7 + y.y * 13 + event_id * 31) % 256 AS v
        FROM events,
             unnest(generate_series(0, 8 + event_id % 9 - 1)) AS x(x),
             unnest(generate_series(0, 8 + event_id % 7 - 1)) AS y(y)
        WHERE event_id < 200
    )
    SELECT media_id, w AS width, h AS height, 1::BIGINT AS channels,
           count(*) AS n_px, sum(v)::BIGINT AS px_sum,
           min(v)::BIGINT AS px_min, max(v)::BIGINT AS px_max
    FROM px GROUP BY media_id, w, h
    """,
    "REAL image decode (not the stub): deterministic greyscale images "
    "are PNG-ENCODED with a rotating per-scanline filter (None/Sub/Up/"
    "Average/Paeth — the full PNG filter matrix), then decoded by the "
    "stdlib-only codec (functions/multimodal.decode_png: chunk walk, "
    "zlib inflate, per-scanline unfilter) and reduced to per-image "
    "pixel stats in one mapInPandas stage — bytes never touch the "
    "driver. The oracle computes the identical stats straight from the "
    "pixel formula, so any unfilter or inflate defect breaks the hash: "
    "this verifies the codec round-trip end to end, upgrading the "
    "multimodal decode path from deterministic-fake to working codec.",
)
def m20_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.multimodal import (
        png_pixel_stats,
    )

    return png_pixel_stats(_png_media(spark, sf_dir))


def _png_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PNG corpus shared by m20/m21: pixel (x, y) of image
    ``id`` is (x*7 + y*13 + id*31) % 256, size (8 + id%9) x (8 + id%7),
    encoded with the rotating filter matrix."""
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import encode_png

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 + mid % 9, 8 + mid % 7
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                pix = ((x * 7 + y * 13 + mid * 31) % 256).astype(np.uint8)
                rows.append((mid, encode_png(pix, filters=[0, 1, 2, 3, 4])))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")


@query(
    "m21_png_resize",
    """
    WITH px AS (
        SELECT event_id AS media_id,
               ((((j.j * (8 + event_id % 9)) // 6) * 7
                 + ((i.i * (8 + event_id % 7)) // 5) * 13
                 + event_id * 31) % 256) AS v
        FROM events,
             unnest(generate_series(0, 4)) AS i(i),
             unnest(generate_series(0, 5)) AS j(j)
        WHERE event_id < 200
    )
    SELECT media_id, 6::BIGINT AS width, 5::BIGINT AS height,
           1::BIGINT AS channels, count(*) AS n_px,
           sum(v)::BIGINT AS px_sum,
           min(v)::BIGINT AS px_min, max(v)::BIGINT AS px_max
    FROM px GROUP BY media_id
    """,
    "REAL image resize (multimodal.resize_images over the stdlib PNG "
    "codec — the PIL-contract stage that fail-fasted before round 4): "
    "decode → nearest-neighbor resample to 6x5 (integer index "
    "arithmetic: source pixel (i*h//5, j*w//6)) → re-encode → decode "
    "again → pixel stats. The oracle replays the resample index math "
    "straight off the pixel formula, so the full decode-resize-encode-"
    "decode chain is value-hash verified. One mapInPandas per stage, "
    "bytes stay on executors.",
)
def m21_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.multimodal import (
        png_pixel_stats,
        resize_images,
    )

    media = _png_media(spark, sf_dir)
    resized = resize_images(media, width=6, height=5)
    # width/height come from the DECODED resized image — the stats stage
    # reports what the bytes actually contain, not the requested size
    return png_pixel_stats(resized)


@query(
    "m22_wav_decode",
    """
    WITH s AS (
        SELECT event_id AS media_id,
               (100 + event_id % 50)::BIGINT AS n,
               ((t.t * 17 + event_id * 29) % 2003) - 1001 AS v
        FROM events,
             unnest(generate_series(0, 100 + event_id % 50 - 1)) AS t(t)
        WHERE event_id < 200
    )
    SELECT media_id, 8000::BIGINT AS sample_rate, n AS n_samples,
           1::BIGINT AS channels, sum(v)::BIGINT AS s_sum,
           min(v)::BIGINT AS s_min, max(v)::BIGINT AS s_max
    FROM s GROUP BY media_id, n
    """,
    "REAL audio decode (multimodal.decode_wav — stdlib RIFF walk, PCM "
    "8/16-bit): deterministic PCM-16 clips are WAV-encoded and decoded "
    "back to per-clip sample stats in one Arrow stage; the oracle "
    "replays the sample formula, so any RIFF-parse or sample-width "
    "defect breaks the hash. Turns the audio half of the multimodal "
    "contract from deterministic-fake into a working codec path.",
)
def m22_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_wav,
        wav_sample_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 100 + mid % 50
                t_idx = np.arange(n, dtype=np.int64)
                v = ((t_idx * 17 + mid * 29) % 2003) - 1001
                rows.append((mid, encode_wav(v, 8000)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = _gen_spread(ev).mapInPandas(gen, "media_id long, content binary")
    return wav_sample_stats(media)


@query(
    "m34_jpeg_decode",
    """
    WITH blk AS (
        SELECT event_id AS media_id,
               (2 + event_id % 3)::BIGINT AS bw,
               (2 + event_id % 2)::BIGINT AS bh,
               (event_id * 31 + by.by * 47 + bx.bx * 23) % 256 AS v
        FROM events,
             unnest(generate_series(0, 2 + event_id % 2 - 1)) AS by(by),
             unnest(generate_series(0, 2 + event_id % 3 - 1)) AS bx(bx)
        WHERE event_id < 200
    )
    SELECT media_id, bw * 8 AS width, bh * 8 AS height,
           1::BIGINT AS channels, bw * bh * 64 AS n_px,
           (sum(v) * 64)::BIGINT AS px_sum,
           min(v)::BIGINT AS px_min, max(v)::BIGINT AS px_max
    FROM blk GROUP BY media_id, bw, bh
    """,
    "REAL JPEG decode (functions/multimodal.decode_jpeg — stdlib-only "
    "baseline sequential: segment walk, DQT/DHT tables read from the "
    "file, Huffman MCU decode with differential DC + run-length AC + "
    "restart-marker resync, dequantize, inverse zigzag, float IDCT). "
    "The corpus is uniform-8x8-block grayscale images encoded at "
    "quality=100 with per-image restart intervals: uniform blocks have "
    "a DC-only spectrum and all-ones quant tables, so the lossy "
    "pipeline is EXACT on them (DC = 8*(v-128) is integer, ACs are "
    "zero) and the oracle replays pixel stats straight from the block "
    "formula — any Huffman, zigzag, dequant, IDCT, addressing or "
    "restart defect breaks the hash. Lossy-quality behavior, color, "
    "IDCT-vs-direct-cosine parity and the progressive/subsampled "
    "NotImplementedError guards are pytest-pinned "
    "(tests/test_sinks_multimodal.py). Covers the dominant real-corpus "
    "image format; bytes never touch the driver.",
)
def m34_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_jpeg,
        jpeg_pixel_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                bw, bh = 2 + mid % 3, 2 + mid % 2
                img = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
                for by in range(bh):
                    for bx in range(bw):
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            mid * 31 + by * 47 + bx * 23
                        ) % 256
                rows.append(
                    (mid, encode_jpeg(
                        img, quality=100, restart_interval=1 + mid % 4
                    ))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = ev.mapInPandas(gen, "media_id long, content binary")
    return jpeg_pixel_stats(media)


@query(
    "m36_gif_frames",
    """
    WITH px AS (
        SELECT event_id AS media_id, f.f AS frame_idx,
               (8 + event_id % 5)::BIGINT AS w,
               (8 + event_id % 4)::BIGINT AS h,
               (event_id * 31 + f.f * 97 + y.y * 13 + x.x * 7) % 256 AS v
        FROM events,
             unnest(generate_series(0, event_id % 3)) AS f(f),
             unnest(generate_series(0, 8 + event_id % 4 - 1)) AS y(y),
             unnest(generate_series(0, 8 + event_id % 5 - 1)) AS x(x)
        WHERE event_id < 200
    )
    SELECT media_id, frame_idx::BIGINT AS frame_idx, w AS width,
           h AS height,
           sum(v)::BIGINT AS r_sum,
           sum((v * 3) % 256)::BIGINT AS g_sum,
           sum((v * 7) % 256)::BIGINT AS b_sum,
           min(v)::BIGINT AS idx_min, max(v)::BIGINT AS idx_max
    FROM px GROUP BY media_id, frame_idx, w, h
    """,
    "REAL animated-GIF decode (functions/multimodal.decode_gif — "
    "stdlib-only: GIF89a block walk, global color table, variable-"
    "width LZW with table growth to 4096 and CLEAR resets, MULTI-FRAME "
    "streams): deterministic palette-index frames encode through the "
    "repo's own LZW encoder and decode back to per-FRAME RGB stats — "
    "the real-codec upgrade of m12's stubbed video frame sampling "
    "(one output row per frame, 1-3 frames per media id). LZW is "
    "lossless, so the oracle replays the exact pixel formula with the "
    "palette mapping applied arithmetically (R=i, G=3i mod 256, "
    "B=7i mod 256). Interlace and local color tables fail fast — the "
    "honest capability guard. One mapInPandas stage; bytes never on "
    "the driver.",
)
def m36_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_gif,
        gif_frame_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )
    i = np.arange(256, dtype=np.int64)
    palette = np.stack([i, (i * 3) % 256, (i * 7) % 256], axis=1).astype(
        np.uint8
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 8 + mid % 5, 8 + mid % 4
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                frames = [
                    ((mid * 31 + f * 97 + y * 13 + x * 7) % 256).astype(
                        np.uint8
                    )
                    for f in range(1 + mid % 3)
                ]
                rows.append((mid, encode_gif(frames, palette)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = ev.mapInPandas(gen, "media_id long, content binary")
    return gif_frame_stats(media)


@query(
    "m13_stratified_sample",
    f"""
    WITH thresholds AS (
        SELECT 'error' AS event_type, 1.0 AS frac
        UNION ALL SELECT 'click', 0.25
        UNION ALL SELECT 'view', 0.1
    ), kept AS (
        SELECT e.event_type, e.event_id
        FROM events e JOIN thresholds t USING (event_type)
        WHERE ({seeded_md5_long_sql("event_id::VARCHAR", 7)}::DOUBLE + 0.5)
              / 1152921504606846976.0 < t.frac
    )
    SELECT event_type, count(*) AS n_kept,
           sum(event_id)::BIGINT AS id_sum
    FROM kept GROUP BY event_type
    """,
    "Stratified per-class sampling (training-pipeline downsample: keep "
    "all seizures, a fraction of background): portable seeded-hash keep "
    "test — sampleBy/randomSplit assign per partition and change with "
    "layout; the hash is bit-stable on any cluster. Broadcast threshold "
    "map + narrow filter, no shuffle. id_sum pins exact membership.",
)
def m13_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = split_ops.stratified_sample(
        _t(spark, sf_dir, "events"),
        "event_type",
        {"error": 1.0, "click": 0.25, "view": 0.1},
        "event_id",
        seed=7,
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("event_id").alias("id_sum"),
    )


@query(
    "m14_mlp_inference",
    """
    WITH x AS (
        SELECT vec_id,
               embedding[1]::DOUBLE AS x1,
               embedding[2]::DOUBLE AS x2,
               embedding[3]::DOUBLE AS x3
        FROM embeddings
    ), h AS (
        SELECT vec_id,
               greatest(0.0, 0.5*x1 + 0.25*x2 - 0.5*x3 + 0.25) AS h1,
               greatest(0.0, -0.25*x1 + 0.5*x2 + 0.125*x3 - 0.125) AS h2
        FROM x
    )
    SELECT vec_id,
           round(1.0 / (1.0 + exp(-(1.5*h1 - 0.75*h2 + 0.0625))), 6) AS p
    FROM h
    """,
    "M9 multi-layer inference (nnTester.py:333-504 keras role): a real "
    "relu-hidden-layer MLP scored through the same Arrow-vectorized "
    "predict_proba path as the linear scorer — model rides the closure, "
    "one batch matmul per Arrow batch, zero shuffles. Dyadic weights "
    "keep every product fp-exact; the oracle walks the identical "
    "forward pass in explicit SQL, so multi-layer parity (not just the "
    "plumbing) is what's checked.",
)
def m14_mlp_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.ml.inference import (
        MLPModel,
        assemble_features,
        predict_proba,
    )
    import numpy as np

    model = MLPModel(
        layers=(
            (
                np.array([[0.5, -0.25], [0.25, 0.5], [-0.5, 0.125]]),
                np.array([0.25, -0.125]),
            ),
            (np.array([[1.5], [-0.75]]), np.array([0.0625])),
        )
    )
    emb = _ts(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        *[
            F.element_at(F.col("embedding"), i + 1).alias(f"x{i}")
            for i in range(3)
        ],
    )
    scored = predict_proba(
        assemble_features(feats, ["x0", "x1", "x2"]), model, out_col="p"
    )
    return scored.select("vec_id", F.round("p", 6).alias("p"))


# CNN weights for m15 — dyadic rationals so every conv product is fp-exact
# in both engines; inputs are quantized to 1/64 steps for the same reason.
_M15_W = ((0.5, -0.25, 0.125), (-0.5, 0.25, 0.5))  # (filter, kernel k=3)
_M15_B = (0.0625, -0.125)
_M15_V = (1.5, -0.75)  # dense head
_M15_C = 0.03125
_M15_L = 8  # input length → conv 'valid' output length 6


def _m15_oracle() -> str:
    """Unrolled conv1d(k=3, valid) + ReLU + GAP + sigmoid dense in SQL."""
    xs = ", ".join(
        f"round(embedding[{i + 1}]::DOUBLE * 64) / 64 AS x{i}"
        for i in range(_M15_L)
    )
    conv_cols = []
    for f, (w, b) in enumerate(zip(_M15_W, _M15_B)):
        for p in range(_M15_L - 2):
            expr = " + ".join(f"({w[j]!r})*x{p + j}" for j in range(3))
            conv_cols.append(f"greatest(0.0, {expr} + ({b!r})) AS c{f}_{p}")
    gaps = ", ".join(
        "("
        + " + ".join(f"c{f}_{p}" for p in range(_M15_L - 2))
        + f") / {_M15_L - 2} AS g{f}"
        for f in range(2)
    )
    z = " + ".join(f"({v!r})*g{f}" for f, v in enumerate(_M15_V))
    return f"""
    WITH x AS (
        SELECT vec_id, {xs} FROM embeddings
    ), conv AS (
        SELECT vec_id, {', '.join(conv_cols)} FROM x
    ), g AS (
        SELECT vec_id, {gaps} FROM conv
    )
    SELECT vec_id,
           round(1.0 / (1.0 + exp(-({z} + ({_M15_C!r})))), 6) AS p
    FROM g
    """


@query(
    "m15_cnn_inference",
    _m15_oracle(),
    "M9 convolutional inference (the specCnnModel.py:55-75 /"
    " deepEpiCnnModel_torch.py:38-162 role): a real conv1d(k=3, valid) →"
    " ReLU → global-average-pool → sigmoid dense forward pass executed by"
    " the pure-numpy ml.cnn.CnnModel through the same Arrow-vectorized"
    " predict_proba path as m9/m14 — model rides the closure, one"
    " sliding-window einsum per Arrow batch, zero shuffles. Inputs are"
    " quantized to 1/64 steps and weights are dyadic, so every conv"
    " product is fp-exact and the oracle's unrolled-SQL forward pass is"
    " bit-identical regardless of summation order.",
)
def m15_cnn_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.ml.cnn import CnnModel, Layer
    from openseizuredatabase_spark.ml.inference import (
        assemble_features,
        predict_proba,
    )

    model = CnnModel(
        layers=(
            Layer(
                "conv1d",
                (
                    np.array([[list(w)] for w in _M15_W]),  # (2, 1, 3)
                    np.array(list(_M15_B)),
                ),
                (("stride", 1), ("padding", "valid")),
            ),
            Layer("relu"),
            Layer("gap"),
            Layer(
                "dense",
                (np.array([[v] for v in _M15_V]), np.array([_M15_C])),
            ),
            Layer("sigmoid"),
        ),
        input_shape=(1, _M15_L),
    )
    emb = _ts(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        *[
            (
                F.round(
                    F.element_at(F.col("embedding"), i + 1).cast("double")
                    * 64,
                    0,
                )
                / 64
            ).alias(f"x{i}")
            for i in range(_M15_L)
        ],
    )
    scored = predict_proba(
        assemble_features(feats, [f"x{i}" for i in range(_M15_L)]),
        model,
        out_col="p",
    )
    return scored.select("vec_id", F.round("p", 6).alias("p"))


# ---------------------------------------------------------------------------
# Driver-window signature bundle + explicit registry ordering
# ---------------------------------------------------------------------------
#
# ---------------------------------------------------------------------------
# Round-3 additions: tree-ensemble inference, nested k-fold, event-level
# metrics, Harrell-Davis ensemble combine, corpus boilerplate scrub
# ---------------------------------------------------------------------------


@query(
    "m16_rf_inference",
    """
    WITH x AS (
        SELECT vec_id,
               embedding[1]::DOUBLE AS x1,
               embedding[2]::DOUBLE AS x2,
               embedding[3]::DOUBLE AS x3
        FROM embeddings
    ), t AS (
        SELECT vec_id,
               CASE WHEN x1 <= 0.0
                    THEN CASE WHEN x2 <= 0.25 THEN 0.25 ELSE 0.75 END
                    ELSE CASE WHEN x3 <= -0.25 THEN 0.5 ELSE 1.0 END
               END AS t0,
               CASE WHEN x2 <= 0.5 THEN 0.125 ELSE 0.875 END AS t1,
               CASE WHEN x3 <= 0.125
                    THEN CASE WHEN x1 <= -0.5 THEN 0.0 ELSE 0.5 END
                    ELSE CASE WHEN x2 <= 0.0 THEN 0.25 ELSE 1.0 END
               END AS t2
        FROM x
    )
    SELECT vec_id, round((t0 + t1 + t2) / 3, 6) AS p FROM t
    """,
    "M9 tree-ensemble inference (the rfModel.py:28-100 sklearn "
    "RandomForest role): a 3-tree forest scored by ml.inference."
    "ForestModel — flat node arrays ride the closure, traversal is "
    "VECTORIZED over each Arrow batch (one index vector walks all rows "
    "level-by-level), zero shuffles, zero per-row Python. Thresholds "
    "and leaf probabilities are dyadic so every comparison and the "
    "3-way mean are fp-exact; the oracle walks the identical trees as "
    "nested CASE expressions.",
)
def m16_rf_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.ml.inference import (
        ForestModel,
        assemble_features,
        predict_proba,
    )

    def tree(feat, thr, left, right, value):
        return (
            np.array(feat, dtype=np.int64),
            np.array(thr, dtype=np.float64),
            np.array(left, dtype=np.int64),
            np.array(right, dtype=np.int64),
            np.array(value, dtype=np.float64),
        )

    model = ForestModel(
        trees=(
            tree(
                [0, 1, 2, -1, -1, -1, -1],
                [0.0, 0.25, -0.25, 0, 0, 0, 0],
                [1, 3, 5, -1, -1, -1, -1],
                [2, 4, 6, -1, -1, -1, -1],
                [0, 0, 0, 0.25, 0.75, 0.5, 1.0],
            ),
            tree([1, -1, -1], [0.5, 0, 0], [1, -1, -1], [2, -1, -1],
                 [0, 0.125, 0.875]),
            tree(
                [2, 0, 1, -1, -1, -1, -1],
                [0.125, -0.5, 0.0, 0, 0, 0, 0],
                [1, 3, 5, -1, -1, -1, -1],
                [2, 4, 6, -1, -1, -1, -1],
                [0, 0, 0, 0.0, 0.5, 0.25, 1.0],
            ),
        )
    )
    emb = _ts(spark, sf_dir, "embeddings")
    feats = emb.select(
        "vec_id",
        *[
            F.element_at(F.col("embedding"), i + 1).alias(f"x{i}")
            for i in range(3)
        ],
    )
    scored = predict_proba(
        assemble_features(feats, ["x0", "x1", "x2"]), model, out_col="p"
    )
    return scored.select("vec_id", F.round("p", 6).alias("p"))


@query(
    "m17_nested_kfold",
    """
    SELECT (event_id % 5)::INTEGER AS outer_fold,
           ((event_id // 5) % 3)::INTEGER AS inner_fold,
           count(*) AS n,
           count(DISTINCT event_id) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    "Nested k-fold assignment (splitData.py nestedKfold>1, "
    "NESTED_KFOLD_README): outer folds are fully-held-out test sets, "
    "inner folds partition the rest for model selection. One pass "
    "annotates every row for all K_out x K_in runs — consumers filter "
    "outer_fold != o and group by inner_fold; no per-combination "
    "re-shuffle.",
)
def m17_nested_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = split_ops.nested_kfold(_t(spark, sf_dir, "events"), "event_id", 5, 3)
    return ev.groupBy("outer_fold", "inner_fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_events"),
    )


@query(
    "m19_calibration",
    f"""
    WITH dp AS (
        SELECT {_N3_P} AS p,
               max(value) OVER (PARTITION BY user_id) >= 170 AS label
        FROM events
    ), binned AS (
        SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin,
               CAST(round(p * 1000000) AS BIGINT) AS pq,
               CAST(round(p * 1000) AS BIGINT) AS pm,
               CASE WHEN label THEN 1.0 ELSE 0.0 END AS y
        FROM dp
    )
    SELECT bin, count(*) AS n,
           round(sum(pq) / count(*)::DOUBLE / 1000000, 6) AS mean_p,
           round(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 6) AS frac_pos,
           round(sum((pm - CAST(y AS BIGINT) * 1000)
                     * (pm - CAST(y AS BIGINT) * 1000))
                 / count(*)::DOUBLE / 1000000, 6) AS brier
    FROM binned GROUP BY bin
    """,
    "Model calibration / reliability curve (the eval companion to "
    "nnTester's threshold analysis): decile-binned mean predicted "
    "probability vs observed positive rate, with the per-bin Brier "
    "contribution. Probabilities quantize to micro-units so every "
    "aggregate is an EXACT integer sum (order-independent — the a10 "
    "discipline). One partial-combined aggregation over a 10-row "
    "output — the curve costs a single pass at any corpus size.",
)
def m19_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-((F.col("value") - 150) / F.lit(25.0)))
    )
    label = F.max("value").over(Window.partitionBy("user_id")) >= 170
    dp = ev.select(
        p.alias("p"),
        F.when(label, 1.0).otherwise(0.0).alias("y"),
    )
    binned = dp.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        F.round(F.col("p") * 1e6, 0).cast("long").alias("pq"),
        F.round(F.col("p") * 1e3, 0).cast("long").alias("pm"),
        "y",
    )
    # milli-quantized error keeps sum(err^2) within double-exact range
    # (< 2^53) even for corpus-scale bins; micro units serve the mean
    err = F.col("pm") - F.col("y").cast("long") * F.lit(1000)
    n = F.count(F.lit(1))
    return binned.groupBy("bin").agg(
        n.alias("n"),
        F.round(F.sum("pq") / n.cast("double") / 1e6, 6).alias("mean_p"),
        F.round(
            F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0))
            / n.cast("double"),
            6,
        ).alias("frac_pos"),
        F.round(F.sum(err * err) / n.cast("double") / 1e6, 6).alias(
            "brier"
        ),
    )


@query(
    "m18_feature_scaling",
    """
    WITH cents AS (
        SELECT event_id, event_type, round(value * 100)::BIGINT AS c
        FROM events
    ), stats AS (
        SELECT event_type,
               count(*)::DOUBLE AS n,
               sum(c)::DOUBLE AS s1,
               sum(c * c)::DOUBLE AS s2
        FROM cents GROUP BY event_type
    )
    SELECT c.event_id, c.event_type,
           round((c.c - s.s1 / s.n)
                 / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 6)
               AS value_z
    FROM cents c JOIN stats s ON c.event_type = s.event_type
    """,
    "Feature standardization (scaleFeatures.py / the StandardScaler "
    "step of nnTrainer.py:518-560, here per-group): z-score every value "
    "against its group's population stats. Stats come from EXACT integer "
    "cent sums (one partial-combined aggregation — order-independent, "
    "the a10 discipline), broadcast back as a tiny per-group table; the "
    "scaling itself is a narrow map the scan absorbs. At lake scale the "
    "stats job is the only reduce and its output is bytes.",
)
def m18_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "c", F.round(F.col("value") * 100, 0).cast("long")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    joined = ev.join(F.broadcast(stats), "event_type")
    return joined.select(
        "event_id",
        "event_type",
        F.round((F.col("c") - mu) / sd, 6).alias("value_z"),
    )


@query(
    "m23_wav_spectrogram",
    """
    WITH s AS (
        SELECT event_id AS media_id,
               (100 + event_id % 50)::BIGINT AS n, t.t AS t,
               (((t.t * 17 + event_id * 29) % 2003) - 1001) / 1000.0 AS x
        FROM events,
             unnest(generate_series(0, 100 + event_id % 50 - 1)) AS t(t)
        WHERE event_id < 50
    ), ep AS (
        SELECT media_id, t // 32 AS epoch, t % 32 AS i, x
        FROM s WHERE t // 32 < n // 32
    ), bins AS (
        SELECT media_id, epoch, k.k AS k,
               sum(x * cos(2 * pi() * k.k * i / 32.0)) AS re,
               sum(x * sin(2 * pi() * k.k * i / 32.0)) AS im
        FROM ep, unnest(generate_series(1, 16)) AS k(k)
        GROUP BY media_id, epoch, k.k
    )
    SELECT media_id, epoch, k, round(re*re + im*im, 6) AS power
    FROM bins
    """,
    "Audio spectrogram over REAL decoded WAV bytes — the multimodal "
    "feature-extraction composition (decode → epoch → spectrum) a "
    "training pipeline runs on audio corpora: deterministic PCM-16 "
    "clips are RIFF-encoded, decoded back by the stdlib codec "
    "(multimodal.decode_wav), segmented into 32-sample epochs and "
    "FFT'd to per-epoch bin powers in ONE Arrow stage (bytes never "
    "leave executors; numpy rfft per epoch). The oracle replays the "
    "sample formula and the literal O(N²) DFT in SQL — same spectrum "
    "the FFT factorizes, 6-dp rounding absorbing the ~1e-13 "
    "summation difference (c9's established pattern, here composed "
    "behind a real byte-level codec so a RIFF-parse defect breaks "
    "the hash too). Scale: embarrassingly parallel per clip; epochs "
    "× bins output is columnar and shuffle-free.",
)
def m23_wav_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        decode_wav,
        encode_wav,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 50).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 100 + mid % 50
                t_idx = np.arange(n, dtype=np.int64)
                v = ((t_idx * 17 + mid * 29) % 2003) - 1001
                rows.append((mid, encode_wav(v, 8000)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    def spectro(batches):
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, _rate = decode_wav(bytes(content))
                x = samples[:, 0].astype(np.float64) / 1000.0
                for e in range(len(x) // 32):
                    seg = x[e * 32 : (e + 1) * 32]
                    sp = np.fft.rfft(seg)
                    power = np.round(sp.real**2 + sp.imag**2, 6)
                    for k in range(1, 17):
                        out.append((int(mid), e, k, float(power[k])))
            yield pd.DataFrame(
                out, columns=["media_id", "epoch", "k", "power"]
            )

    media = ev.mapInPandas(gen, "media_id long, content binary")
    return media.mapInPandas(
        spectro, "media_id long, epoch long, k long, power double"
    )


@query(
    "m24_time_series_cv",
    """
    WITH v AS (
        SELECT event_id, epoch_us(ts)::BIGINT AS us FROM events
    ), w AS (
        SELECT event_id, us,
               ((us - (us % 604800000000)) / 604800000000)::BIGINT AS wk
        FROM v
    ), b AS (
        SELECT min(wk) AS w0 FROM w
    ), f AS (
        SELECT g.i AS fold FROM unnest(generate_series(1, 3)) AS g(i)
    )
    SELECT f.fold,
           sum(CASE WHEN w.wk <= b.w0 + f.fold - 1
               THEN 1 ELSE 0 END)::BIGINT AS n_train,
           sum(CASE WHEN w.wk = b.w0 + f.fold
               THEN 1 ELSE 0 END)::BIGINT AS n_test,
           max(CASE WHEN w.wk <= b.w0 + f.fold - 1
               THEN w.us END)::BIGINT AS train_end_us,
           min(CASE WHEN w.wk = b.w0 + f.fold
               THEN w.us END)::BIGINT AS test_start_us
    FROM w, b, f GROUP BY f.fold
    """,
    "Expanding-window time-series cross-validation (the temporally "
    "sound split m17's modulo k-fold is NOT for forecasting-shaped "
    "tasks — random folds leak the future into training): fold i "
    "trains on epoch-weeks [w0, w0+i) and tests on week w0+i, so "
    "train_end_us < test_start_us by construction (pinned in the "
    "output). NO global sort: week ids come from integer floor "
    "division of the timestamp and the only non-scan state is a "
    "1-row min + a 3-row fold frame, both broadcast — the split "
    "scales as one conditional aggregation pass however large the "
    "lake (vs the naive ntile-over-global-order which collapses to "
    "a single partition).",
)
def m24_time_series_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wk_us = 604_800_000_000
    us = F.unix_micros("ts")
    w = ev.select(
        "event_id",
        us.alias("us"),
        ((us - (us % wk_us)) / wk_us).cast("long").alias("wk"),
    )
    b = w.agg(F.min("wk").alias("w0"))
    f = b.select(
        "w0", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("fold")
    )
    in_train = F.col("wk") <= F.col("w0") + F.col("fold") - 1
    in_test = F.col("wk") == F.col("w0") + F.col("fold")
    return (
        w.crossJoin(F.broadcast(f))
        .groupBy("fold")
        .agg(
            F.sum(F.when(in_train, 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(in_test, 1).otherwise(0)).alias("n_test"),
            F.max(F.when(in_train, F.col("us"))).alias("train_end_us"),
            F.min(F.when(in_test, F.col("us"))).alias("test_start_us"),
        )
    )


@query(
    "m38_auc_exact",
    """
    WITH scored AS (
        SELECT round(value * 100)::BIGINT AS s,
               CASE WHEN max(round(value * 100)::BIGINT)
                         OVER (PARTITION BY user_id) >= 17000
                    THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT s, count(*) AS cnt, sum(y)::BIGINT AS npos
        FROM scored GROUP BY s
    ), ranked AS (
        SELECT s, cnt, npos,
               sum(cnt) OVER (ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - cnt AS below
        FROM grp
    ), sums AS (
        -- 2*avg_rank for a tie group = 2*below + cnt + 1 (integer)
        SELECT sum(npos * (2 * below + cnt + 1))::BIGINT AS r2,
               sum(npos)::BIGINT AS n1,
               sum(cnt - npos)::BIGINT AS n0
        FROM ranked
    )
    SELECT n1, n0,
           round((r2 - n1 * (n1 + 1))
                 / (2.0 * n1::DOUBLE * n0::DOUBLE), 6) AS auc
    FROM sums
    """,
    "Exact AUC-ROC via the rank statistic (AUC = (R1 - n1(n1+1)/2) / "
    "(n1*n0), the Mann-Whitney identity — the eval metric nnTester's "
    "threshold sweeps approximate pointwise, computed exactly and "
    "tie-correctly in one pass): scores quantize to cents, tie groups "
    "aggregate ONCE (corpus exchange on the score key), average ranks "
    "come from the doubled-rank integer identity 2r = 2*below+cnt+1 "
    "(never a fraction), and the final ratio is one double division "
    "on exact BIGINTs. No per-row ranking window over the corpus — "
    "rank sums derive from group counts, so the reduce state is one "
    "row per distinct score.",
)
def m38_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("s"),
        "user_id",
    )
    lbl = (
        F.max("s").over(Window.partitionBy("user_id")) >= 17000
    ).cast("int")
    scored = ev.select("s", lbl.alias("y"))
    grp = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").cast("long").alias("npos")
    )
    wo = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = grp.select(
        "s",
        "cnt",
        "npos",
        (F.sum("cnt").over(wo) - F.col("cnt")).alias("below"),
    )
    sums = ranked.agg(
        F.sum(
            F.col("npos") * (2 * F.col("below") + F.col("cnt") + 1)
        ).cast("long").alias("r2"),
        F.sum("npos").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("npos")).cast("long").alias("n0"),
    )
    return sums.select(
        "n1",
        "n0",
        F.round(
            (F.col("r2") - F.col("n1") * (F.col("n1") + 1))
            / (2.0 * F.col("n1").cast("double") * F.col("n0").cast("double")),
            6,
        ).alias("auc"),
    )


@query(
    "m37_quantile_binning",
    """
    WITH c AS (
        SELECT round(value * 100)::BIGINT AS cents, event_id,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
        FROM events
    ), ranked AS (
        SELECT cents, y,
               row_number() OVER (ORDER BY cents, event_id) - 1 AS r,
               count(*) OVER () AS n
        FROM c
    )
    SELECT ((r * 10 - ((r * 10) % n)) / n)::BIGINT AS bin,
           count(*) AS n_rows,
           min(cents)::BIGINT AS lo_cents,
           max(cents)::BIGINT AS hi_cents,
           sum(y)::BIGINT AS n_target,
           round(sum(y) / count(*)::DOUBLE, 6) AS target_rate
    FROM ranked GROUP BY 1
    """,
    "Equal-frequency feature binning (the QuantileDiscretizer step of "
    "every tabular training pipeline, here EXACT instead of sketch-"
    "approximate): global rank via one ordered window, bin = "
    "floor(rank*k/n) by the portable floor-division identity "
    "(approxQuantile's cutpoints are engine-specific; rank arithmetic "
    "is not), then per-bin extent and target rate for monotonicity/WOE "
    "inspection. The global sort is the one exchange; at 100 TB the "
    "production swap is rangepartition+local rank (same algebra, "
    "sort-based shuffle), which Spark's window already compiles to.",
)
def m37_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
    )
    wo = Window.orderBy("cents", "event_id")
    ranked = ev.select(
        "cents",
        "y",
        (F.row_number().over(wo) - 1).alias("r"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    x = F.col("r") * 10
    binned = ranked.select(
        ((x - x % F.col("n")) / F.col("n")).cast("long").alias("bin"),
        "cents",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.sum("y").cast("long").alias("n_target"),
        F.round(
            F.sum("y") / F.count(F.lit(1)).cast("double"), 6
        ).alias("target_rate"),
    )


def _m26_oracle() -> str:
    d = _EMB_DIM
    return f"""
    WITH pr AS (
        SELECT vec_id AS p_id, label AS true_label,
               list_transform(embedding, x -> x::DOUBLE) AS pe
        FROM embeddings WHERE vec_id BETWEEN 1 AND 16
    ), co AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS ce
        FROM embeddings
    ), terms AS (
        SELECT pr.p_id, co.vec_id, co.label,
               sum(round(co.ce[g.i]::DOUBLE * pr.pe[g.i]::DOUBLE
                         * 1e6)::BIGINT) AS dp,
               sum(round(co.ce[g.i]::DOUBLE * co.ce[g.i]::DOUBLE
                         * 1e6)::BIGINT) AS na,
               sum(round(pr.pe[g.i]::DOUBLE * pr.pe[g.i]::DOUBLE
                         * 1e6)::BIGINT) AS np
        FROM pr, co, unnest(generate_series(1, {d})) AS g(i)
        WHERE co.vec_id <> pr.p_id
        GROUP BY pr.p_id, co.vec_id, co.label
    ), sims AS (
        SELECT p_id, vec_id, label,
               round(dp / (sqrt(na::DOUBLE) * sqrt(np::DOUBLE)), 6)
                   AS sim,
               row_number() OVER (PARTITION BY p_id
                                  ORDER BY round(dp / (sqrt(na::DOUBLE)
                                  * sqrt(np::DOUBLE)), 6) DESC, vec_id)
                   AS rnk
        FROM terms
    ), votes AS (
        SELECT p_id, label, count(*)::BIGINT AS n_votes
        FROM sims WHERE rnk <= 5 GROUP BY p_id, label
    ), winner AS (
        SELECT p_id, label AS pred_label, n_votes,
               row_number() OVER (PARTITION BY p_id
                                  ORDER BY n_votes DESC, label) AS vr
        FROM votes
    )
    SELECT w.p_id, pr.true_label, w.pred_label, w.n_votes,
           (w.pred_label = pr.true_label) AS correct
    FROM winner w JOIN pr ON w.p_id = pr.p_id
    WHERE w.vr = 1
    """


@query(
    "m26_knn_label_prop",
    _m26_oracle(),
    "k-NN weak labeling over the embedding table (label propagation — "
    "how a training-data pipeline extends a small labeled seed to the "
    "corpus, and the eval harness for embedding quality): a FIXED "
    "16-probe panel classifies by majority vote of its 5 nearest "
    "cosine neighbors (v1's quantized-integer dot discipline; "
    "identical divide-then-round operand order in both engines; ties "
    "break sim-then-id, vote ties break count-then-label). The probe "
    "panel is a broadcast — the corpus side streams through ONE "
    "zip_with dot product per probe with no dim explosion, so the "
    "scan parallelizes embarrassingly and the per-probe top-5 is a "
    "partial TakeOrdered, not a global sort. Probe count is absolute "
    "(not a corpus fraction), so cost stays linear in corpus size — "
    "the LSH-bucketed variant (v2) is the same plan with a bucket "
    "equi-join prepended.",
)
def m26_knn_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _ts(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    pr = (
        emb.filter(F.col("vec_id").between(1, 16))
        .select(
            F.col("vec_id").alias("p_id"),
            F.col("label").alias("true_label"),
            F.col("emb_d").alias("pe"),
        )
        .withColumn("np", _quantized_dot(F.col("pe"), F.col("pe")))
    )
    j = emb.crossJoin(F.broadcast(pr)).filter(
        F.col("vec_id") != F.col("p_id")
    )
    dp = _quantized_dot(F.col("emb_d"), F.col("pe"))
    na = _quantized_dot(F.col("emb_d"), F.col("emb_d"))
    sim = F.round(dp / (F.sqrt(na) * F.sqrt(F.col("np"))), 6)
    sims = j.select("p_id", "vec_id", "label", sim.alias("sim"))
    top5 = sims.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("p_id").orderBy(
                F.col("sim").desc(), F.col("vec_id")
            )
        ),
    ).filter(F.col("rnk") <= 5)
    votes = top5.groupBy("p_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    winner = votes.withColumn(
        "vr",
        F.row_number().over(
            Window.partitionBy("p_id").orderBy(
                F.col("n_votes").desc(), F.col("label")
            )
        ),
    ).filter(F.col("vr") == 1)
    return winner.join(
        pr.select("p_id", "true_label"), "p_id"
    ).select(
        "p_id",
        "true_label",
        F.col("label").alias("pred_label"),
        "n_votes",
        (F.col("label") == F.col("true_label")).alias("correct"),
    )


def _m27_oracle(rounds: int = 2) -> str:
    fdiv = lambda x, d: f"((({x}) - (({x}) % ({d}))) / ({d}))"  # noqa: E731
    its = []
    for r in range(1, rounds + 1):
        its.append(f"""bs{r} AS (
        SELECT feat, b, sum(res)::BIGINT AS s, count(*)::BIGINT AS n
        FROM (
            SELECT 'v' AS feat, f1b AS b, res FROM st{r - 1}
            UNION ALL
            SELECT 'h' AS feat, f2b AS b, res FROM st{r - 1}
        ) GROUP BY feat, b
    ), tot{r} AS (
        SELECT sum(s)::BIGINT AS st, sum(n)::BIGINT AS nt
        FROM bs{r} WHERE feat = 'v'
    ), g{r} AS (
        SELECT c.feat, c.b, c.sl, c.nl, t.st, t.nt,
               (c.sl::DOUBLE * c.sl::DOUBLE) / c.nl::DOUBLE
               + ((t.st - c.sl)::DOUBLE * (t.st - c.sl)::DOUBLE)
                 / (t.nt - c.nl)::DOUBLE AS gain
        FROM (SELECT feat, b,
                     sum(s) OVER (PARTITION BY feat ORDER BY b)
                         ::BIGINT AS sl,
                     sum(n) OVER (PARTITION BY feat ORDER BY b)
                         ::BIGINT AS nl
              FROM bs{r}) c
        CROSS JOIN tot{r} t
        WHERE c.nl > 0 AND c.nl < t.nt
        ORDER BY gain DESC, c.feat ASC, c.b ASC LIMIT 1
    ), sp{r} AS (
        SELECT feat, b, nl AS n_left, (nt - nl)::BIGINT AS n_right,
               {fdiv('sl', 'nl')}::BIGINT AS pred_l,
               {fdiv('(st - sl)', '(nt - nl)')}::BIGINT AS pred_r
        FROM g{r}
    ), st{r} AS (
        SELECT s.rid, s.f1b, s.f2b,
               (s.res - (CASE WHEN (p.feat = 'v' AND s.f1b <= p.b)
                              OR (p.feat = 'h' AND s.f2b <= p.b)
                         THEN {fdiv('p.pred_l', 2)}
                         ELSE {fdiv('p.pred_r', 2)} END))::BIGINT AS res
        FROM st{r - 1} s CROSS JOIN sp{r} p
    ), rm{r} AS (
        SELECT round(sqrt(sum(rk * rk)::DOUBLE / count(*)), 6)
            AS rmse_milli
        FROM (SELECT {fdiv('res', 1000)} AS rk FROM st{r})
    ), r{r} AS (
        SELECT {r}::BIGINT AS rnd, p.feat, p.b AS split_bucket,
               p.n_left, p.n_right, p.pred_l AS pred_left,
               p.pred_r AS pred_right, m.rmse_milli
        FROM sp{r} p CROSS JOIN rm{r} m
    )""")
    sel = " UNION ALL ".join(
        f"SELECT * FROM r{r}" for r in range(1, rounds + 1)
    )
    return f"""
    WITH mm AS (
        SELECT min(CAST(round(value * 1000000) AS BIGINT)) AS vmin,
               max(CAST(round(value * 1000000) AS BIGINT)) AS vmax
        FROM events WHERE value IS NOT NULL
    ), st0 AS (
        SELECT event_id AS rid,
               {fdiv('(vmic - mm.vmin) * 20', '(mm.vmax - mm.vmin + 1)')}
                   ::BIGINT AS f1b,
               {fdiv('us % 86400000000', '3600000000')}::BIGINT AS f2b,
               (CASE WHEN event_type = 'error' THEN 1000000 ELSE 0 END)
                   ::BIGINT AS res
        FROM (SELECT event_id, event_type,
                     CAST(round(value * 1000000) AS BIGINT) AS vmic,
                     epoch_us(ts)::BIGINT AS us
              FROM events WHERE value IS NOT NULL)
        CROSS JOIN mm
    ), {', '.join(its)}
    {sel} ORDER BY rnd
    """


@query(
    "m27_gbt_stumps",
    _m27_oracle(),
    "Gradient-boosted decision stumps TRAINED relationally with a "
    "value-hash oracle (the XGBoost shape, demonstrated exact): L2 "
    "boosting on the error-indicator target over two features (value "
    "ventile, hour-of-day), two rounds, shrinkage ½. The split search "
    "is the histogram trick every production GBT uses: ONE map-side-"
    "combined groupBy to per-(feature, bucket) residual sums, then "
    "cumulative sums over the ~44-row bucket frame turn every "
    "candidate threshold's gain into window arithmetic — no per-"
    "candidate scan, no crossJoin. Gains compare as IEEE doubles built "
    "from exact int64s in a fixed operand order (bit-identical cross-"
    "engine); argmax is a 1-row frame (gain desc, feat, bucket); leaf "
    "values and the shrinkage halving use truncating integer division "
    "(consistent for negative residuals in both engines). Residual "
    "state is corpus-scale and pinned per round; rmse is reported in "
    "milli-units so its integer square-sum stays in int64 past the "
    "100× stress.",
)
def m27_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def fdiv(x, d):
        return ((x - (x % d)) / d).cast("long")

    vmic = F.round(F.col("value") * 1_000_000, 0).cast("long")
    us = F.unix_micros("ts")
    mm = ev.agg(
        F.min(vmic).alias("vmin"), F.max(vmic).alias("vmax")
    )
    state = pin(
        ev.select(
            F.col("event_id").alias("rid"),
            "event_type",
            vmic.alias("vmic"),
            us.alias("us"),
        )
        .crossJoin(F.broadcast(mm))
        .select(
            "rid",
            fdiv(
                (F.col("vmic") - F.col("vmin")) * 20,
                F.col("vmax") - F.col("vmin") + 1,
            ).alias("f1b"),
            fdiv(F.col("us") % 86_400_000_000, F.lit(3_600_000_000)).alias(
                "f2b"
            ),
            F.when(F.col("event_type") == "error", F.lit(1_000_000))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("res"),
        )
    )
    reports = []
    for r in range(1, 3):
        longf = state.select(
            F.lit("v").alias("feat"), F.col("f1b").alias("b"), "res"
        ).unionByName(
            state.select(
                F.lit("h").alias("feat"), F.col("f2b").alias("b"), "res"
            )
        )
        bs = longf.groupBy("feat", "b").agg(
            F.sum("res").cast("long").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        tot = bs.filter(F.col("feat") == "v").agg(
            F.sum("s").cast("long").alias("st"),
            F.sum("n").cast("long").alias("nt"),
        )
        wc = (
            Window.partitionBy("feat")
            .orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cand = bs.select(
            "feat",
            "b",
            F.sum("s").over(wc).cast("long").alias("sl"),
            F.sum("n").over(wc).cast("long").alias("nl"),
        )
        gain = (
            F.col("sl").cast("double") * F.col("sl").cast("double")
        ) / F.col("nl").cast("double") + (
            (F.col("st") - F.col("sl")).cast("double")
            * (F.col("st") - F.col("sl")).cast("double")
        ) / (
            F.col("nt") - F.col("nl")
        ).cast(
            "double"
        )
        sp = pin(
            cand.crossJoin(F.broadcast(tot))
            .filter((F.col("nl") > 0) & (F.col("nl") < F.col("nt")))
            .select("feat", "b", "sl", "nl", "st", "nt", gain.alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("feat"), F.col("b"))
            .limit(1)
            .select(
                "feat",
                "b",
                F.col("nl").alias("n_left"),
                (F.col("nt") - F.col("nl")).cast("long").alias("n_right"),
                fdiv(F.col("sl"), F.col("nl")).alias("pred_l"),
                fdiv(
                    F.col("st") - F.col("sl"), F.col("nt") - F.col("nl")
                ).alias("pred_r"),
            )
        )
        left = (
            (F.col("feat") == "v") & (F.col("f1b") <= F.col("b"))
        ) | ((F.col("feat") == "h") & (F.col("f2b") <= F.col("b")))
        state = pin(
            state.crossJoin(F.broadcast(sp))
            .select(
                "rid",
                "f1b",
                "f2b",
                (
                    F.col("res")
                    - F.when(left, fdiv(F.col("pred_l"), F.lit(2)))
                    .otherwise(fdiv(F.col("pred_r"), F.lit(2)))
                )
                .cast("long")
                .alias("res"),
            )
        )
        rk = fdiv(F.col("res"), F.lit(1000))
        rm = state.select(rk.alias("rk")).agg(
            F.round(
                F.sqrt(
                    F.sum(F.col("rk") * F.col("rk")).cast("double")
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("rmse_milli")
        )
        reports.append(
            sp.crossJoin(F.broadcast(rm)).select(
                F.lit(r).cast("long").alias("rnd"),
                "feat",
                F.col("b").alias("split_bucket"),
                "n_left",
                "n_right",
                F.col("pred_l").alias("pred_left"),
                F.col("pred_r").alias("pred_right"),
                "rmse_milli",
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("rnd")


def _m28_oracle() -> str:
    h = seeded_md5_long_sql("event_id::VARCHAR", 41)
    return f"""
    WITH base AS (
        SELECT event_type, (({h}) % 100 < 10) AS in_s
        FROM events
    ), per AS (
        SELECT event_type, count(*)::BIGINT AS n_full,
               sum(CASE WHEN in_s THEN 1 ELSE 0 END)::BIGINT AS n_sample
        FROM base GROUP BY event_type
    ), tot AS (
        SELECT sum(n_full)::BIGINT AS nf, sum(n_sample)::BIGINT AS ns
        FROM per
    )
    SELECT p.event_type, p.n_full, p.n_sample,
           (p.n_sample * t.nf - t.ns * p.n_full)::BIGINT AS dev_scaled,
           round(((p.n_sample * t.nf - t.ns * p.n_full)::DOUBLE
                  * (p.n_sample * t.nf - t.ns * p.n_full)::DOUBLE)
                 / (t.ns::DOUBLE * p.n_full::DOUBLE * t.nf::DOUBLE), 6)
               AS chi2_term
    FROM per p CROSS JOIN tot t
    """


@query(
    "m28_sample_chi2",
    _m28_oracle(),
    "Sampling-quality audit: chi-squared goodness-of-fit of a 10% "
    "deterministic hash sample's event-type distribution against the "
    "full table — the QA gate that certifies a subsample is "
    "representative before it trains anything (pairs with m13's "
    "stratified sampler and t20's shuffle; a skewed hash or a "
    "key-correlated sample shows up here immediately). ONE scan "
    "computes both the full and sample counts (the sample membership "
    "is a predicate, not a second pass); each type's deviation "
    "obs·N − S·exp is EXACT int64 (the w16/w17 rescaling trick) and "
    "its chi² term is one fixed-order IEEE expression over exact ints "
    "rounded to 6 dp per row — no cross-row float summation anywhere. "
    "Portable seeded md5 keeps sample membership identical in both "
    "engines at any scale.",
)
def m28_sample_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    ev = _t(spark, sf_dir, "events")
    in_s = (
        seeded_md5_long(F.col("event_id").cast("string"), 41) % 100 < 10
    )
    per = (
        ev.select("event_type", in_s.alias("in_s"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum(F.when(F.col("in_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_sample"),
        )
    )
    tot = per.agg(
        F.sum("n_full").cast("long").alias("nf"),
        F.sum("n_sample").cast("long").alias("ns"),
    )
    dev = F.col("n_sample") * F.col("nf") - F.col("ns") * F.col("n_full")
    term = (dev.cast("double") * dev.cast("double")) / (
        F.col("ns").cast("double")
        * F.col("n_full").cast("double")
        * F.col("nf").cast("double")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_full",
        "n_sample",
        dev.cast("long").alias("dev_scaled"),
        F.round(term, 6).alias("chi2_term"),
    )


_M29_LANGS = ("de", "en", "es", "fr", "zh")


def _m29_oracle() -> str:
    h = seeded_md5_long_sql("doc_id::VARCHAR", 57)
    model_cols = ", ".join(
        f"sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS c_{c}"
        for c in _M29_LANGS
    )
    tot_cols = ", ".join(
        f"sum(c_{c})::BIGINT AS t_{c}" for c in _M29_LANGS
    )
    prior_cols = ", ".join(
        f"sum(CASE WHEN lang = '{c}' THEN 1 ELSE 0 END)::BIGINT"
        f" AS d_{c}"
        for c in _M29_LANGS
    )
    score_cols = ", ".join(
        f"sum(tk.k * CAST(round(ln((coalesce(m.c_{c}, 0) + 1)"
        f"::DOUBLE / (t.t_{c} + t.v)::DOUBLE) * 1000000) AS BIGINT))"
        f"::BIGINT AS s_{c}"
        for c in _M29_LANGS
    )
    full_cols = ", ".join(
        f"s.s_{c} + CAST(round(ln((p.d_{c} + 1)::DOUBLE"
        f" / (p.nd + {len(_M29_LANGS)})::DOUBLE) * 1000000) AS BIGINT)"
        f" AS f_{c}"
        for c in _M29_LANGS
    )
    gmax = "greatest(" + ", ".join(f"f_{c}" for c in _M29_LANGS) + ")"
    pred = (
        "CASE "
        + " ".join(
            f"WHEN f_{c} = {gmax} THEN '{c}'" for c in _M29_LANGS
        )
        + " END"
    )
    return f"""
    WITH docs2 AS (
        SELECT doc_id, lang,
               list_transform({text_fns.tokens_sql('text')},
                              x -> lower(x)) AS t,
               (({h}) % 5 = 0) AS is_test
        FROM documents WHERE length(trim(text)) > 0
    ), tok AS (
        SELECT doc_id, lang, is_test, unnest(t) AS tok FROM docs2
    ), model AS (
        SELECT tok, {model_cols}
        FROM tok WHERE NOT is_test GROUP BY tok
    ), totals AS (
        SELECT {tot_cols}, count(*)::BIGINT AS v FROM model
    ), priors AS (
        SELECT {prior_cols}, count(*)::BIGINT AS nd
        FROM docs2 WHERE NOT is_test
    ), test_k AS (
        SELECT doc_id, lang, tok, count(*)::BIGINT AS k
        FROM tok WHERE is_test GROUP BY doc_id, lang, tok
    ), scored AS (
        SELECT tk.doc_id, tk.lang, {score_cols}
        FROM test_k tk
        LEFT JOIN model m ON tk.tok = m.tok
        CROSS JOIN totals t
        GROUP BY tk.doc_id, tk.lang
    ), fscore AS (
        SELECT s.doc_id, s.lang, {full_cols}
        FROM scored s CROSS JOIN priors p
    )
    SELECT lang, {pred} AS pred, count(*)::BIGINT AS n
    FROM fscore GROUP BY lang, pred
    """


@query(
    "m29_naive_bayes",
    _m29_oracle(),
    "Multinomial naive-Bayes language classifier, TRAINED and "
    "evaluated in-engine (the supervised sibling of t3's stopword "
    "heuristic, and the third trained model family after t34's "
    "logistic GD and m27's boosted stumps): an 80/20 portable-hash "
    "split, add-1 token likelihoods per language, add-1 priors, and "
    "a held-out confusion matrix. Every log-likelihood is quantized "
    "to integer micro-nats BEFORE the per-doc sum (the a24/t25 libm "
    "discipline), so document scores are exact int64 and the argmax "
    "(ties broken in fixed class order) is an integer comparison — "
    "the trained model's predictions are value-hash oracled, not "
    "just its plumbing. Scale shape: ONE token shuffle builds the "
    "model, ONE token equi-join scores held-out docs (class counts "
    "ride the model row — no per-class join fan-out); totals and "
    "priors are 1-row broadcast frames. Empty-text docs are excluded "
    "from both phases (no tokens to vote with).",
)
def m29_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    langs = _M29_LANGS
    docs = (
        _ts(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            "lang",
            F.transform(text_fns.tokens(F.col("text")), F.lower).alias(
                "t"
            ),
            (
                seeded_md5_long(F.col("doc_id").cast("string"), 57) % 5
                == 0
            ).alias("is_test"),
        )
    )
    tok = docs.select(
        "doc_id", "lang", "is_test", F.explode("t").alias("tok")
    )
    model = (
        tok.filter(~F.col("is_test"))
        .groupBy("tok")
        .agg(
            *[
                F.sum(F.when(F.col("lang") == c, 1).otherwise(0))
                .cast("long")
                .alias(f"c_{c}")
                for c in langs
            ]
        )
    )
    totals = model.agg(
        *[F.sum(f"c_{c}").cast("long").alias(f"t_{c}") for c in langs],
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    priors = (
        docs.filter(~F.col("is_test"))
        .agg(
            *[
                F.sum(F.when(F.col("lang") == c, 1).otherwise(0))
                .cast("long")
                .alias(f"d_{c}")
                for c in langs
            ],
            F.count(F.lit(1)).cast("long").alias("nd"),
        )
    )
    test_k = (
        tok.filter(F.col("is_test"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    lp = {
        c: F.expr(
            f"CAST(round(ln(CAST(coalesce(c_{c}, 0) + 1 AS DOUBLE)"
            f" / CAST(t_{c} + v AS DOUBLE)) * 1000000) AS BIGINT)"
        )
        for c in langs
    }
    scored = (
        test_k.join(model, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id", "lang")
        .agg(
            *[
                F.sum(F.col("k") * lp[c]).cast("long").alias(f"s_{c}")
                for c in langs
            ]
        )
    )
    nlangs = len(langs)
    full = scored.crossJoin(F.broadcast(priors)).select(
        "doc_id",
        "lang",
        *[
            (
                F.col(f"s_{c}")
                + F.expr(
                    f"CAST(round(ln(CAST(d_{c} + 1 AS DOUBLE)"
                    f" / CAST(nd + {nlangs} AS DOUBLE)) * 1000000)"
                    " AS BIGINT)"
                )
            ).alias(f"f_{c}")
            for c in langs
        ],
    )
    gmax = F.greatest(*[F.col(f"f_{c}") for c in langs])
    # first matching class wins ties — same fixed order as the oracle's
    # CASE chain
    pred = None
    for c in langs:
        cond = F.col(f"f_{c}") == gmax
        pred = (
            F.when(cond, c) if pred is None else pred.when(cond, c)
        )
    return (
        full.select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _m30_moment_exprs() -> dict[str, str]:
    """Cramer's-rule expressions over the exact integer moments, as
    dialect-shared text (CAST .. AS DOUBLE parses in both engines).
    Fixed operand order → bit-identical doubles."""
    d = {k: f"CAST({k} AS DOUBLE)" for k in (
        "n", "sx1", "sx2", "s11", "s22", "s12", "sy", "s1y", "s2y",
        "syy",
    )}
    det = (
        f"{d['n']} * ({d['s11']} * {d['s22']} - {d['s12']} * {d['s12']})"
        f" - {d['sx1']} * ({d['sx1']} * {d['s22']} - {d['s12']} * {d['sx2']})"
        f" + {d['sx2']} * ({d['sx1']} * {d['s12']} - {d['s11']} * {d['sx2']})"
    )
    det0 = (
        f"{d['sy']} * ({d['s11']} * {d['s22']} - {d['s12']} * {d['s12']})"
        f" - {d['sx1']} * ({d['s1y']} * {d['s22']} - {d['s12']} * {d['s2y']})"
        f" + {d['sx2']} * ({d['s1y']} * {d['s12']} - {d['s11']} * {d['s2y']})"
    )
    det1 = (
        f"{d['n']} * ({d['s1y']} * {d['s22']} - {d['s12']} * {d['s2y']})"
        f" - {d['sy']} * ({d['sx1']} * {d['s22']} - {d['s12']} * {d['sx2']})"
        f" + {d['sx2']} * ({d['sx1']} * {d['s2y']} - {d['s1y']} * {d['sx2']})"
    )
    det2 = (
        f"{d['n']} * ({d['s11']} * {d['s2y']} - {d['s1y']} * {d['s12']})"
        f" - {d['sx1']} * ({d['sx1']} * {d['s2y']} - {d['s1y']} * {d['sx2']})"
        f" + {d['sy']} * ({d['sx1']} * {d['s12']} - {d['s11']} * {d['sx2']})"
    )
    return {
        "b0": f"({det0}) / ({det})",
        "b1": f"({det1}) / ({det})",
        "b2": f"({det2}) / ({det})",
    }


def _m30_oracle() -> str:
    e = _m30_moment_exprs()
    return f"""
    WITH b AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               round(l_discount * 100)::BIGINT AS x2,
               round(l_extendedprice)::BIGINT AS y
        FROM lineitem
    ), m AS (
        SELECT count(*)::BIGINT AS n,
               sum(x1)::BIGINT AS sx1, sum(x2)::BIGINT AS sx2,
               sum(x1 * x1)::BIGINT AS s11,
               sum(x2 * x2)::BIGINT AS s22,
               sum(x1 * x2)::BIGINT AS s12,
               sum(y)::BIGINT AS sy,
               sum(x1 * y)::BIGINT AS s1y,
               sum(x2 * y)::BIGINT AS s2y,
               sum(y * y)::BIGINT AS syy
        FROM b
    ), beta AS (
        SELECT n, sy, s1y, s2y, syy,
               {e['b0']} AS b0, {e['b1']} AS b1, {e['b2']} AS b2
        FROM m
    )
    SELECT n,
           round(b0, 6) AS beta0,
           round(b1, 6) AS beta1,
           round(b2, 6) AS beta2,
           round(1.0 - (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
                        - b1 * CAST(s1y AS DOUBLE)
                        - b2 * CAST(s2y AS DOUBLE))
                 / (CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                      / CAST(n AS DOUBLE)), 6) AS r2
    FROM beta
    """


@query(
    "m30_ols_normal_eq",
    _m30_oracle(),
    "Multiple linear regression by normal equations (closed-form OLS "
    "of dollar-quantized extendedprice on quantity and discount — the "
    "classic distributed-ML pattern where ONE pass of map-side-"
    "combined integer moments replaces iterative training; joins "
    "t34/m27/m29 as the fourth trained-model family, this one with an "
    "algebraic solution). All ten sufficient statistics are exact "
    "int64 (y in whole dollars bounds sum(y^2) under int64 past the "
    "100x stress; x1, x2 are naturally integer); the 3x3 Cramer "
    "solve and R^2 are fixed-order IEEE expressions generated from "
    "ONE shared text for both engines. The data never moves: the "
    "model is 10 numbers, the solve runs on a 1-row frame.",
)
def m30_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _m30_moment_exprs()
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice"), 0).cast("long").alias("y"),
    )
    m = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("s2y"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    beta = m.select(
        "n",
        "sy",
        "s1y",
        "s2y",
        "syy",
        F.expr(e["b0"]).alias("b0"),
        F.expr(e["b1"]).alias("b1"),
        F.expr(e["b2"]).alias("b2"),
    )
    return beta.select(
        "n",
        F.round("b0", 6).alias("beta0"),
        F.round("b1", 6).alias("beta1"),
        F.round("b2", 6).alias("beta2"),
        F.round(
            1.0
            - (
                F.col("syy").cast("double")
                - F.col("b0") * F.col("sy").cast("double")
                - F.col("b1") * F.col("s1y").cast("double")
                - F.col("b2") * F.col("s2y").cast("double")
            )
            / (
                F.col("syy").cast("double")
                - F.col("sy").cast("double")
                * F.col("sy").cast("double")
                / F.col("n").cast("double")
            ),
            6,
        ).alias("r2"),
    )


@query(
    "m31_target_encoding",
    """
    WITH base AS (
        SELECT c.c_mktsegment AS cat,
               {h} % 5 AS fold,
               round(o.o_totalprice)::BIGINT AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT cat, fold, sum(y)::BIGINT AS s, count(*)::BIGINT AS n
        FROM base GROUP BY cat, fold
    ), tot AS (
        SELECT cat, sum(s)::BIGINT AS st, sum(n)::BIGINT AS nt
        FROM per GROUP BY cat
    )
    SELECT p.cat, p.fold, p.n AS n_fold,
           CASE WHEN t.nt > p.n THEN
               round(CAST(t.st - p.s AS DOUBLE)
                     / CAST(t.nt - p.n AS DOUBLE), 6)
           END AS oof_mean
    FROM per p JOIN tot t ON p.cat = t.cat
    """.replace("{h}", seeded_md5_long_sql("o.o_orderkey::VARCHAR", 29)),
    "Leakage-safe K-fold target encoding (the feature-engineering "
    "step gradient-boosting pipelines pair with m27: replace a "
    "category with its out-of-fold target mean, so a row never sees "
    "its own fold's labels — in-fold means leak the target and "
    "overfit). Folds come from the portable seeded md5 (m24's CV "
    "discipline); each (category, fold) encoding is (total - fold) / "
    "(n_total - n_fold) over exact dollar-int sums — one (cat, fold) "
    "shuffle of data-scale work, then the per-category totals ride a "
    "25-row frame. A category confined to a single fold emits NULL "
    "(no out-of-fold evidence) instead of a leaked or divide-by-zero "
    "value.",
)
def m31_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("cat"),
        (
            seeded_md5_long(F.col("o_orderkey").cast("string"), 29) % 5
        ).alias("fold"),
        F.round("o_totalprice", 0).cast("long").alias("y"),
    )
    per = base.groupBy("cat", "fold").agg(
        F.sum("y").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tot = per.groupBy("cat").agg(
        F.sum("s").cast("long").alias("st"),
        F.sum("n").cast("long").alias("nt"),
    )
    return per.join(F.broadcast(tot), "cat").select(
        "cat",
        "fold",
        F.col("n").alias("n_fold"),
        F.when(
            F.col("nt") > F.col("n"),
            F.round(
                (F.col("st") - F.col("s")).cast("double")
                / (F.col("nt") - F.col("n")).cast("double"),
                6,
            ),
        ).alias("oof_mean"),
    )


_M32_EPOCHS = 6


def _m32_step() -> tuple[str, str, str, str]:
    """Shared epoch text for the batch perceptron: the misclassification
    predicate and the three weight-update aggregate expressions, all
    over base columns (y, x1, x2) + the broadcast weight row
    (a0, a1, a2)."""
    mis = "y * (a0 + a1 * x1 + a2 * x2) <= 0"
    upd = lambda xj: (  # noqa: E731
        f"CAST(max(a{xj[0]}) + coalesce(sum(CASE WHEN {mis}"
        f" THEN y{xj[1]} ELSE 0 END), 0) AS BIGINT)"
    )
    return (
        mis,
        upd(("0", "")),
        upd(("1", " * x1")),
        upd(("2", " * x2")),
    )


def _m32_oracle() -> str:
    mis, u0, u1, u2 = _m32_step()
    its = []
    prev = "w0"
    for i in range(1, _M32_EPOCHS + 1):
        its.append(
            f"""e{i} AS (
        SELECT {u0} AS a0, {u1} AS a1, {u2} AS a2
        FROM base CROSS JOIN {prev}
    )"""
        )
        prev = f"e{i}"
    return f"""
    WITH base AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
               CAST(round(l_quantity) AS BIGINT) AS x1,
               CAST(round(l_discount * 100) AS BIGINT) AS x2
        FROM lineitem
    ), w0 AS (
        SELECT CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS a1,
               CAST(0 AS BIGINT) AS a2
    ), {', '.join(its)}
    SELECT CAST(max(a0) AS BIGINT) AS a0, CAST(max(a1) AS BIGINT) AS a1,
           CAST(max(a2) AS BIGINT) AS a2,
           CAST(coalesce(sum(CASE WHEN {mis} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_mis,
           CAST(count(*) AS BIGINT) AS n_total
    FROM base CROSS JOIN {prev}
    """


@query(
    "m32_batch_perceptron",
    _m32_oracle(),
    "Full-batch perceptron on integer features (predict returnflag 'R' "
    "from quantity + discount) — the simplest ITERATIVE distributed "
    "training loop, and the integer-exact member of the m-family next "
    "to t34's rounded logistic GD: every weight stays int64 forever "
    "(w += sum of y*x over misclassified rows), so 6 epochs reproduce "
    "bit-identically cross-engine with NO rounding discipline at all. "
    "Each epoch is one map-side-combined aggregate over the data with "
    "the 1-row weight frame broadcast (never a driver round-trip in "
    "the plan); the feature frame is localCheckpoint-reused across the "
    "7 passes. The SQL oracle chains the same 6 epoch CTEs from "
    "generated shared text. Reference has no trainable-from-scratch "
    "path at all (nnTraining delegates to frameworks) — this pins the "
    "engine's iterative-consistency contract.",
)
def m32_batch_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    mis, u0, u1, u2 = _m32_step()
    base = pin(
        _t(spark, sf_dir, "lineitem")
        .select(
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(-1)
            .alias("y"),
            F.round("l_quantity", 0).cast("long").alias("x1"),
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("x2"),
        )
    )
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("a0"),
        F.lit(0).cast("long").alias("a1"),
        F.lit(0).cast("long").alias("a2"),
    )
    for _ in range(_M32_EPOCHS):
        w = base.crossJoin(F.broadcast(w)).agg(
            F.expr(u0).alias("a0"),
            F.expr(u1).alias("a1"),
            F.expr(u2).alias("a2"),
        )
    return base.crossJoin(F.broadcast(w)).agg(
        F.expr("CAST(max(a0) AS BIGINT)").alias("a0"),
        F.expr("CAST(max(a1) AS BIGINT)").alias("a1"),
        F.expr("CAST(max(a2) AS BIGINT)").alias("a2"),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN {mis} THEN 1 ELSE 0 END), 0)"
            " AS BIGINT)"
        ).alias("n_mis"),
        F.expr("CAST(count(*) AS BIGINT)").alias("n_total"),
    )


def _m25_filters() -> list[tuple[int, int, int]]:
    """Mel-spaced triangular filterbank (6 filters x DFT bins 1..16,
    fs=8000, N=32 → bin k = k*250 Hz) precomputed into integer
    micro-weight literals both engines share verbatim (the v16 sign-
    matrix pattern — no libm in either plan for the filter shapes)."""
    import math

    mel = lambda hz: 2595.0 * math.log10(1.0 + hz / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10 ** (m / 2595.0) - 1.0)  # noqa: E731
    lo, hi = mel(250.0), mel(4000.0)
    pts = [imel(lo + (hi - lo) * i / 7.0) for i in range(8)]
    out = []
    for f in range(6):
        a, b, c = pts[f], pts[f + 1], pts[f + 2]
        for k in range(1, 17):
            hz = k * 250.0
            if a <= hz <= b and b > a:
                w = (hz - a) / (b - a)
            elif b < hz <= c and c > b:
                w = (c - hz) / (c - b)
            else:
                w = 0.0
            wm = int(round(w * 1e6))
            if wm:
                out.append((f, k, wm))
    return out


def _m25_dct() -> list[tuple[int, int, int]]:
    """DCT-II basis (4 coefficients x 6 filters) as integer micro
    literals — cos() evaluated ONCE in Python, never by either engine."""
    import math

    return [
        (c, f, int(round(math.cos(math.pi * c * (f + 0.5) / 6.0) * 1e6)))
        for c in range(4)
        for f in range(6)
    ]


_M25_LE = (
    "CAST(round(ln(CAST(eng AS DOUBLE) / 1000000000000.0 + 0.000001)"
    " * 1000000) AS BIGINT)"
)


def _m25_oracle() -> str:
    fb = ", ".join(f"({f}, {k}, {w})" for f, k, w in _m25_filters())
    dc = ", ".join(f"({c}, {f}, {d})" for c, f, d in _m25_dct())
    cs = ", ".join(
        f"CAST(sum(CASE WHEN c = {c} THEN mm ELSE 0 END) AS BIGINT)"
        f" AS c{c}_micro"
        for c in range(4)
    )
    return f"""
    WITH spec AS ({QUERIES['m23_wav_spectrogram'].oracle}),
    p AS (
        SELECT media_id, epoch, k,
               CAST(round(power * 1000000) AS BIGINT) AS pm
        FROM spec
    ), fb(f, k, w) AS (
        SELECT * FROM (VALUES {fb})
    ), e AS (
        SELECT p.media_id, p.epoch, fb.f,
               CAST(sum(fb.w * p.pm) AS BIGINT) AS eng
        FROM p JOIN fb ON p.k = fb.k
        GROUP BY p.media_id, p.epoch, fb.f
    ), le AS (
        SELECT media_id, epoch, f, {_M25_LE} AS lem FROM e
    ), dct(c, f, d) AS (
        SELECT * FROM (VALUES {dc})
    ), m AS (
        SELECT le.media_id, le.epoch, dct.c,
               CAST(round(CAST(sum(dct.d * le.lem) AS DOUBLE)
                          / 1000000.0) AS BIGINT) AS mm
        FROM le JOIN dct ON le.f = dct.f
        GROUP BY le.media_id, le.epoch, dct.c
    )
    SELECT media_id, epoch, {cs}
    FROM m GROUP BY media_id, epoch
    """


@query(
    "m25_mfcc",
    _m25_oracle(),
    "MFCC audio features (mel filterbank → log energies → DCT-II) "
    "composed ON TOP of m23's real decode→spectrogram path — the "
    "standard audio front-end a multimodal training pipeline feeds to "
    "models, and deliberately NOT another Arrow kernel: past the "
    "spectrogram everything is JVM-side codegen (two broadcast joins "
    "against literal matrices + conditional-sum pivot). The mel "
    "weights and DCT cosines are precomputed into integer micro "
    "literals (v16's pattern — no libm for the matrices in either "
    "engine); filterbank energies are exact int64 dot products; the "
    "single transcendental (ln) is quantized to micro-nats (m29's "
    "discipline) before the exact-int DCT. Scale: per-clip parallel, "
    "output columnar, the two matrix joins broadcast 96- and 24-row "
    "tables.",
)
def m25_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = m23_wav_spectrogram(spark, sf_dir)
    p = spec.select(
        "media_id",
        "epoch",
        "k",
        F.round(F.col("power") * 1000000, 0).cast("long").alias("pm"),
    )
    fb = literal_df(spark, _m25_filters(), "f int, k long, w long")
    e = (
        p.join(F.broadcast(fb), "k")
        .groupBy("media_id", "epoch", "f")
        .agg(F.sum(F.col("w") * F.col("pm")).cast("long").alias("eng"))
    )
    le = e.select(
        "media_id", "epoch", "f", F.expr(_M25_LE).alias("lem")
    )
    dct = literal_df(spark, _m25_dct(), "c int, f int, d long")
    m = (
        le.join(F.broadcast(dct), "f")
        .groupBy("media_id", "epoch", "c")
        .agg(
            F.expr(
                "CAST(round(CAST(sum(d * lem) AS DOUBLE)"
                " / 1000000.0) AS BIGINT)"
            ).alias("mm")
        )
    )
    return m.groupBy("media_id", "epoch").agg(
        *[
            F.expr(
                f"CAST(sum(CASE WHEN c = {c} THEN mm ELSE 0 END)"
                " AS BIGINT)"
            ).alias(f"c{c}_micro")
            for c in range(4)
        ]
    )


# ALS quantized-update text, shared by both engines and both directions
# (user step sums over a user's items, item step over an item's users):
# latent = sum(r*other) / sum(other^2), carried as round(x * 1e9 / den)
# because users quantize to milli-units and items to micro-units
# (asymmetric: user moments must survive 600M users in int64).
_M33_UPD = (
    "CAST(round(CAST(sum(r * {o}) AS DOUBLE) * 1000000000.0"
    " / CAST(sum({o} * {o}) AS DOUBLE)) AS BIGINT)"
)
_M33_ERR = (
    "(CAST(r AS DOUBLE) - CAST(um AS DOUBLE) * CAST(vm AS DOUBLE)"
    " / 1000000000.0)"
)


def _m33_oracle() -> str:
    uu = _M33_UPD.format(o="vm")
    vv = _M33_UPD.format(o="um")
    return f"""
    WITH r AS (
        SELECT user_id, event_type AS item, count(*)::BIGINT AS r
        FROM events GROUP BY user_id, event_type
    ), v0 AS (
        SELECT DISTINCT event_type AS item,
               CAST(1000000 AS BIGINT) AS vm
        FROM events
    ), u1 AS (
        SELECT r.user_id, {uu} AS um
        FROM r JOIN v0 ON r.item = v0.item GROUP BY r.user_id
    ), v1 AS (
        SELECT r.item, {vv} AS vm
        FROM r JOIN u1 ON r.user_id = u1.user_id GROUP BY r.item
    ), u2 AS (
        SELECT r.user_id, {uu} AS um
        FROM r JOIN v1 ON r.item = v1.item GROUP BY r.user_id
    ), v2 AS (
        SELECT r.item, {vv} AS vm
        FROM r JOIN u2 ON r.user_id = u2.user_id GROUP BY r.item
    ), err AS (
        SELECT r.item, {_M33_ERR} AS e
        FROM r JOIN u2 ON r.user_id = u2.user_id
               JOIN v2 ON r.item = v2.item
    )
    SELECT e.item AS event_type, v2.vm AS v_micro,
           count(*)::BIGINT AS n_users,
           sum(CAST(round(e.e * e.e * 1000000.0) AS BIGINT))::BIGINT
               AS sse_micro
    FROM err e JOIN v2 ON e.item = v2.item
    GROUP BY e.item, v2.vm
    """


@query(
    "m33_als_rank1",
    _m33_oracle(),
    "Rank-1 ALS matrix factorization of the user x event-type count "
    "matrix (two full alternations from a uniform item vector) — the "
    "collaborative-filtering primitive, with the classic ALS "
    "distribution shape: each half-step is ONE groupBy over the rating "
    "triples (user step keyed by user, item step by item — the two "
    "shuffles every distributed ALS pays), latent state never "
    "materializes a dense matrix. Cross-engine exactness via "
    "asymmetric quantization: items carry micro-units but users carry "
    "MILLI-units, because user-side second moments must survive 600M "
    "users in int64 (the n17 lesson applied at design time); every "
    "update is integer sums + one correctly-rounded IEEE divide from "
    "shared text. Emits per-item latent weight + exact SSE census.",
)
def m33_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = pin(
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.col("event_type").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    v = (
        r.select("item")
        .distinct()
        .select("item", F.lit(1000000).cast("long").alias("vm"))
    )
    uu, vv = _M33_UPD.format(o="vm"), _M33_UPD.format(o="um")
    for _ in range(2):
        u = (
            r.join(F.broadcast(v), "item")
            .groupBy("user_id")
            .agg(F.expr(uu).alias("um"))
        )
        v = (
            r.join(u, "user_id")
            .groupBy("item")
            .agg(F.expr(vv).alias("vm"))
        )
        u, v = pin(u), pin(v)
    err = (
        r.join(u, "user_id")
        .join(F.broadcast(v), "item")
        .select("item", "vm", F.expr(_M33_ERR).alias("e"))
    )
    return err.groupBy(
        F.col("item").alias("event_type"), F.col("vm").alias("v_micro")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.expr("CAST(round(e * e * 1000000.0) AS BIGINT)"))
        .cast("long")
        .alias("sse_micro"),
    )


# ---------------------------------------------------------------------------
# round 6: probability-calibration audit (reliability bins + Brier)
# ---------------------------------------------------------------------------

_M40_P = "1.0 / (1.0 + exp(-((value - 150) / 25.0)))"


@query(
    "m40_calibration_bins",
    f"""
    WITH scored AS (
        SELECT CAST(round(({_M40_P}) * 1000000) AS BIGINT) AS pm,
               event_id
        FROM events
    ), lab AS (
        SELECT pm,
               CASE WHEN ({seeded_md5_long_sql("event_id::VARCHAR", 17)})
                         % 1000000 < pm
                    THEN 1 ELSE 0 END AS y
        FROM scored
    ), binned AS (
        SELECT least(9, pm // 100000) AS bin, pm, y,
               (pm - y * 1000000) AS e
        FROM lab
    )
    SELECT bin,
           count(*)::BIGINT AS n,
           sum(y)::BIGINT AS n_pos,
           sum(pm)::BIGINT AS sum_pm,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
           round(CAST(sum(pm) AS DOUBLE) / count(*) / 1000000, 6)
               AS avg_p,
           CAST(round(CAST(sum(e::HUGEINT * e) AS DOUBLE)
                      / count(*) / 1000000) AS BIGINT) AS brier_micro
    FROM binned GROUP BY bin
    """,
    "Probability-calibration audit (the reliability diagram + "
    "per-bin Brier score — the model-eval step between m38's "
    "ranking AUC and deployment thresholds): the detector "
    "probability p = sigmoid((value-150)/25) (n1's scoring function) "
    "is quantized to micro-units, outcomes are drawn as the "
    "deterministic portable-hash Bernoulli y = [h(event_id) mod 1e6 "
    "< pm] (so the fixture is well-calibrated by construction and "
    "the bins expose pure sampling deviation), and each of 10 "
    "equal-width probability bins reports n / positives / observed "
    "frequency / mean predicted p / mean squared error. Exactness: "
    "pm and y are integers, so every aggregate is an order-free "
    "integer sum (squares widened past int64 — decimal in Spark, "
    "HUGEINT in the oracle) and the only float ops are final "
    "fixed-order divisions. One map-side-combined aggregation over "
    "the scan; 10 result rows.",
)
def m40_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pm = (
        F.round(F.expr(_M40_P) * 1000000, 0).cast("long").alias("pm")
    )
    scored = ev.select(pm, "event_id")
    y = F.when(
        seeded_md5_long(F.col("event_id").cast("string"), 17) % 1000000
        < F.col("pm"),
        1,
    ).otherwise(0)
    lab = scored.select("pm", y.alias("y"))
    e = (F.col("pm") - F.col("y") * 1000000).cast("decimal(18,0)")
    binned = lab.select(
        F.least(F.lit(9), F.expr("pm div 100000")).alias("bin"),
        "pm",
        "y",
        e.alias("e"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("pm").cast("long").alias("sum_pm"),
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)), 6
        ).alias("frac_pos"),
        F.round(
            F.sum("pm").cast("double") / F.count(F.lit(1)) / 1000000, 6
        ).alias("avg_p"),
        F.round(
            F.sum(F.col("e") * F.col("e")).cast("double")
            / F.count(F.lit(1))
            / 1000000,
            0,
        )
        .cast("long")
        .alias("brier_micro"),
    )


# ---------------------------------------------------------------------------
# round 6: audio resample (rate conversion with exact integer interp)
# ---------------------------------------------------------------------------

_M41_FD = "((num - (((num % 3) + 3) % 3)) / 3)::BIGINT"


@query(
    "m41_wav_resample",
    f"""
    WITH s AS (
        SELECT event_id AS media_id,
               (100 + event_id % 50)::BIGINT AS n, t.t AS i,
               ((t.t * 17 + event_id * 29) % 2003) - 1001 AS v
        FROM events,
             unnest(generate_series(0, 100 + event_id % 50 - 1)) AS t(t)
        WHERE event_id < 200
    ), params AS (
        SELECT media_id, n, (n - 1) * 3 // 4 + 1 AS m
        FROM s GROUP BY media_id, n
    ), grid AS (
        SELECT p.media_id, p.n, j.j AS j,
               (j.j * 4) // 3 AS idx, (j.j * 4) % 3 AS r
        FROM params p, unnest(generate_series(0, p.m - 1)) AS j(j)
    ), ov AS (
        SELECT g.media_id,
               s1.v * (3 - g.r) + s2.v * g.r AS num
        FROM grid g
        JOIN s s1 ON s1.media_id = g.media_id AND s1.i = g.idx
        JOIN s s2 ON s2.media_id = g.media_id
                 AND s2.i = least(g.idx + 1, g.n - 1)
    )
    SELECT media_id, 6000::BIGINT AS sample_rate,
           count(*)::BIGINT AS n_samples, 1::BIGINT AS channels,
           sum({_M41_FD})::BIGINT AS s_sum,
           min({_M41_FD})::BIGINT AS s_min,
           max({_M41_FD})::BIGINT AS s_max
    FROM ov GROUP BY media_id
    """,
    "REAL audio rate conversion (multimodal.resample_wav — the "
    "feature-extraction prerequisite when phone exports arrive at "
    "mixed rates): m22's PCM-16 clips decode, linear-interpolate from "
    "8 kHz onto the 6 kHz grid in EXACT integer arithmetic (a/b = "
    "4/3; out_j = floor((v[idx](b-r) + v[idx+1]r)/b) with idx = j*4 "
    "div 3 — portable floor-division, edge-hold clamp at the tail), "
    "re-encode at 6 kHz, and decode AGAIN to stats — so the full "
    "decode-resample-encode-decode chain is value-hash gated against "
    "an oracle that replays the grid index math in SQL. One "
    "mapInPandas per stage, bytes stay on executors; cost is one "
    "pass over samples per clip.",
)
def m41_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from openseizuredatabase_spark.functions.multimodal import (
        encode_wav,
        resample_wav,
        wav_sample_stats,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200).select(
        F.col("event_id").alias("media_id")
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = 100 + mid % 50
                t_idx = np.arange(n, dtype=np.int64)
                v = ((t_idx * 17 + mid * 29) % 2003) - 1001
                rows.append((mid, encode_wav(v, 8000)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = ev.mapInPandas(gen, "media_id long, content binary")
    return wav_sample_stats(resample_wav(media, 6000))


def _m42_oracle() -> str:
    m40 = QUERIES["m40_calibration_bins"].oracle
    return f"""
    WITH cal AS MATERIALIZED ({m40}),
    pre AS (
        SELECT bin,
               sum(n) OVER (ORDER BY bin) AS cn,
               sum(n_pos) OVER (ORDER BY bin) AS cp
        FROM cal
    ), rng AS (
        SELECT j.bin AS j, k.bin AS k,
               CAST(k.cp - coalesce(jp.cp, 0) AS DOUBLE)
               / CAST(k.cn - coalesce(jp.cn, 0) AS DOUBLE) AS a
        FROM pre j
        JOIN pre k ON k.bin >= j.bin
        LEFT JOIN pre jp ON jp.bin = j.bin - 1
    ), mins AS (
        SELECT i.bin AS i, r.j, min(r.a) AS mn
        FROM cal i JOIN rng r ON r.j <= i.bin AND r.k >= i.bin
        GROUP BY i.bin, r.j
    ), fit AS (
        SELECT i AS bin, round(max(mn), 6) AS fitted_p
        FROM mins GROUP BY i
    )
    SELECT c.bin, c.n, c.n_pos, c.frac_pos, c.avg_p, f.fitted_p
    FROM cal c JOIN fit f USING (bin)
    """


@query(
    "m42_isotonic_fit",
    _m42_oracle(),
    "Isotonic (PAV) probability calibration over m40's reliability "
    "bins — the non-parametric recalibration step that follows a "
    "calibration audit (Zadrozny & Elkan 2002): the weighted "
    "monotone fit uses the CLOSED-FORM minimax identity fitted_i = "
    "max_{{j<=i}} min_{{k>=i}} wavg(y, j..k), equivalent to pool-"
    "adjacent-violators but expressible as prefix sums + two bounded "
    "joins instead of a sequential pooling loop — O(B^3) over B=10 "
    "AGGREGATED bins (pandas-free, driver-free), while the corpus-"
    "scale work stays m40's single map-side-combined pass. Every "
    "range average is one double division of exact integer prefix "
    "sums and min/max are order-free, so the fit is bit-stable and "
    "the oracle replays the identical identity. Output keeps the "
    "observed curve beside the fitted monotone curve.",
)
def m42_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cal = m40_calibration_bins(spark, sf_dir)
    w = Window.orderBy("bin")
    pre = cal.select(
        "bin",
        F.sum("n").over(w).alias("cn"),
        F.sum("n_pos").over(w).alias("cp"),
    )
    j = pre.select(
        F.col("bin").alias("j"), F.col("cn").alias("jcn"), F.col("cp").alias("jcp")
    )
    jp = pre.select(
        (F.col("bin") + 1).alias("j"),
        F.col("cn").alias("pcn"),
        F.col("cp").alias("pcp"),
    )
    k = pre.select(
        F.col("bin").alias("k"), F.col("cn").alias("kcn"), F.col("cp").alias("kcp")
    )
    rng = (
        j.join(jp, "j", "left")
        .join(k, F.col("k") >= F.col("j"))
        .select(
            "j",
            "k",
            (
                (F.col("kcp") - F.coalesce(F.col("pcp"), F.lit(0))).cast(
                    "double"
                )
                / (F.col("kcn") - F.coalesce(F.col("pcn"), F.lit(0))).cast(
                    "double"
                )
            ).alias("a"),
        )
    )
    bins = cal.select(F.col("bin").alias("i"))
    mins = (
        bins.join(rng, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("a").alias("mn"))
    )
    fit = mins.groupBy("i").agg(F.round(F.max("mn"), 6).alias("fitted_p"))
    return cal.join(fit, cal["bin"] == fit["i"]).select(
        "bin", "n", "n_pos", "frac_pos", "avg_p", "fitted_p"
    )


@query(
    "m43_config_grid_eval",
    """
    WITH grid AS (
        SELECT t.thr::DOUBLE AS thr, m.mh AS min_hits
        FROM (SELECT unnest(generate_series(150, 350, 50)) AS thr) t,
             (SELECT unnest(generate_series(1, 3)) AS mh) m
    ),
    per_user AS (
        SELECT g.thr, g.min_hits, e.user_id,
               sum(CASE WHEN e.value >= g.thr THEN 1 ELSE 0 END) AS hits,
               max(CASE WHEN e.value >= 300 AND e.event_type = 'error'
                        THEN 1 ELSE 0 END) AS label
        FROM events e CROSS JOIN grid g
        GROUP BY g.thr, g.min_hits, e.user_id
    ),
    conf AS (
        SELECT thr, min_hits,
               sum(CASE WHEN hits >= min_hits AND label = 1 THEN 1 ELSE 0 END) AS tp,
               sum(CASE WHEN hits >= min_hits AND label = 0 THEN 1 ELSE 0 END) AS fp,
               sum(CASE WHEN hits < min_hits AND label = 0 THEN 1 ELSE 0 END) AS tn,
               sum(CASE WHEN hits < min_hits AND label = 1 THEN 1 ELSE 0 END) AS fn
        FROM per_user GROUP BY thr, min_hits
    )
    SELECT CAST(thr AS BIGINT) AS thr, min_hits,
           tp::BIGINT AS tp, fp::BIGINT AS fp,
           tn::BIGINT AS tn, fn::BIGINT AS fn,
           CAST(round(CASE WHEN tp + fn > 0
                THEN tp / (tp + fn)::DOUBLE ELSE 0 END * 1000000) AS BIGINT)
               AS tpr_micro,
           CAST(round(CASE WHEN fp + tn > 0
                THEN fp / (fp + tn)::DOUBLE ELSE 0 END * 1000000) AS BIGINT)
               AS fpr_micro
    FROM conf
    """,
    "Config-grid evaluation, the single-scan form (runOptimisation.py:"
    "8-96 + eventLevelMetrics.py:46-90): the reference reruns the whole "
    "pipeline once per swept config; here the ENTIRE parameter grid "
    "(threshold x alarm-persistence, the osdAlg warn/alarm knobs) is a "
    "15-row broadcast crossed into ONE pass over the datapoint table — "
    "per (config, entity) detection via conditional aggregation, then "
    "per-config event-level confusion + tpr/fpr, emitted as integer "
    "micro-units (signed-zero-proof). At 100 TB this evaluates every "
    "config for the price of one scan: the BroadcastNestedLoopJoin "
    "multiplies rows 15x BEFORE the map-side-combined groupBy, so no "
    "shuffle sees raw data more than once and no driver loop exists. "
    "The model-fit variant of the same harness (per-config RF fit/eval "
    "as one applyInPandas stage over a shared broadcast feature table) "
    "is ml/optimise.run_param_grid, pytest-pinned in test_optimise.py.",
)
def m43_config_grid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    grid = (
        spark.range(150, 351, 50)
        .select(F.col("id").cast("double").alias("thr"))
        .crossJoin(
            spark.range(1, 4).select(F.col("id").alias("min_hits"))
        )
    )
    # Scale shape (the x100 stress caught the naive form at ratio 80):
    # the grid fan-out must happen AFTER the first reduction, not on raw
    # rows. Thresholds are exact multiples of 50, so value >= thr
    # depends only on bucket = floor(value/50): ONE map-side-combined
    # pass reduces the corpus to (user, bucket) counts (bounded by
    # users x value-domain/50, ~100x smaller than the row count), and
    # the 15x grid multiplication runs over that pre-aggregate.
    pre = ev.groupBy(
        "user_id", F.floor(F.col("value") / 50).alias("b")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(
            F.when(
                (F.col("value") >= 300) & (F.col("event_type") == "error"),
                1,
            ).otherwise(0)
        ).alias("lmax"),
    )
    labels = pre.groupBy("user_id").agg(F.max("lmax").alias("label"))
    hits = (
        pre.join(
            F.broadcast(grid),
            F.col("b") >= (F.col("thr") / 50).cast("long"),
        )
        .groupBy("thr", "min_hits", "user_id")
        .agg(F.sum("cnt").alias("hits"))
    )
    # (config, user) combos with zero qualifying rows never appear in
    # `hits`; re-attach the full dimension-sized frame so tn/fn count
    # them (the naive crossJoin got this for free)
    per_user = (
        labels.crossJoin(F.broadcast(grid))
        .join(hits, ["thr", "min_hits", "user_id"], "left")
        .select(
            "thr", "min_hits", "user_id", "label",
            F.coalesce("hits", F.lit(0)).alias("hits"),
        )
    )
    detected = F.col("hits") >= F.col("min_hits")
    conf = per_user.groupBy("thr", "min_hits").agg(
        F.sum(F.when(detected & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(detected & (F.col("label") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~detected & (F.col("label") == 0), 1).otherwise(0)).alias("tn"),
        F.sum(F.when(~detected & (F.col("label") == 1), 1).otherwise(0)).alias("fn"),
    )
    rate = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    return conf.select(
        F.col("thr").cast("long").alias("thr"),
        "min_hits", "tp", "fp", "tn", "fn",
        F.round(rate(F.col("tp"), F.col("tp") + F.col("fn")) * 1000000)
        .cast("long").alias("tpr_micro"),
        F.round(rate(F.col("fp"), F.col("fp") + F.col("tn")) * 1000000)
        .cast("long").alias("fpr_micro"),
    )


_M44_FRACS = (5, 20, 40, 80)


def _m44_dist(accessor) -> str:
    """Fixed-order (left-associated) squared-distance expression over
    the 64 embedding dims vs a centroid given by micro-sum columns
    s1..s64 and count n_train — generated once, same term order in both
    engines, so the double result is bit-identical. `accessor(d)`
    renders element d of the test embedding (dialects differ only in
    the list-index function name)."""
    terms = []
    for d in range(1, _EMB_DIM + 1):
        c = (f"(CAST(s{d} AS DOUBLE)"
             f" / (1000000.0 * CAST(n_train_l AS DOUBLE)))")
        x = f"CAST({accessor(d)} AS DOUBLE)"
        terms.append(f"(({x}) - {c}) * (({x}) - {c})")
    return " + ".join(terms)


def _m44_pred_ctes() -> str:
    """Shared CTE chain ending in `pred` (s, vec_id, pred_label,
    true_label) and `ntr` — reused by m44 (accuracy curve) and m45
    (per-class F1)."""
    cent_sums = ", ".join(
        f"sum(round(emb[{d}]::DOUBLE * 1000000)::BIGINT)::BIGINT AS s{d}"
        for d in range(1, _EMB_DIM + 1)
    )
    dist = _m44_dist(lambda d: f"emb[{d}]")
    h = seeded_md5_long_sql("CAST(vec_id AS VARCHAR)", 4400)
    fr = ", ".join(str(s) for s in _M44_FRACS)
    return f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               {h} % 100 AS bucket
        FROM embeddings
    ), fr AS (
        SELECT unnest([{fr}]) AS s
    ), cents AS (
        SELECT fr.s, e.label AS clabel, count(*)::BIGINT AS n_train_l,
               {cent_sums}
        FROM e JOIN fr ON e.bucket < fr.s
        GROUP BY fr.s, e.label
    ), test AS (
        SELECT vec_id, label, emb FROM e WHERE bucket >= 80
    ), scored AS (
        SELECT c.s, t.vec_id, t.label, c.clabel,
               CAST(round(({dist}) * 1000000) AS BIGINT) AS dist_micro
        FROM test t CROSS JOIN cents c
    ), best AS (
        SELECT s, vec_id, min(dist_micro) AS mind
        FROM scored GROUP BY s, vec_id
    ), pred AS (
        SELECT sc.s, sc.vec_id, min(sc.clabel)::BIGINT AS pred_label,
               min(sc.label)::BIGINT AS true_label
        FROM scored sc JOIN best
          ON best.s = sc.s AND best.vec_id = sc.vec_id
         AND sc.dist_micro = best.mind
        GROUP BY sc.s, sc.vec_id
    ), ntr AS (
        SELECT s, sum(n_train_l)::BIGINT AS n_train FROM cents GROUP BY s
    )"""


def _m44_oracle() -> str:
    return _m44_pred_ctes() + """
    SELECT pred.s::BIGINT AS s, ntr.n_train,
           count(*)::BIGINT AS n_test,
           sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT
               AS n_correct,
           CAST(round(sum(CASE WHEN pred_label = true_label
                           THEN 1 ELSE 0 END)
                / count(*)::DOUBLE * 1000000) AS BIGINT) AS acc_micro
    FROM pred JOIN ntr ON ntr.s = pred.s
    GROUP BY pred.s, ntr.n_train
    """


def _m44_pred_dfs(spark: SparkSession, sf_dir: str):
    """Spark twin of _m44_pred_ctes: returns (pred, ntr) DataFrames."""
    from openseizuredatabase_spark.functions.hashing import seeded_md5_long

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
        (seeded_md5_long(F.col("vec_id").cast("string"), 4400) % 100).alias(
            "bucket"
        ),
    )
    fr = literal_df(spark, [(s,) for s in _M44_FRACS], "s long")
    cent_sums = [
        F.sum(
            F.round(F.element_at("emb", d).cast("double") * 1000000, 0).cast(
                "long"
            )
        )
        .cast("long")
        .alias(f"s{d}")
        for d in range(1, _EMB_DIM + 1)
    ]
    cents = (
        e.join(F.broadcast(fr), F.col("bucket") < F.col("s"))
        .groupBy("s", F.col("label").alias("clabel"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_train_l"), *cent_sums)
    )
    test = e.filter(F.col("bucket") >= 80).select(
        "vec_id", "label", "emb"
    )
    dist = _m44_dist(lambda d: f"element_at(emb, {d})")
    scored = test.crossJoin(F.broadcast(cents)).select(
        "s",
        "vec_id",
        "label",
        "clabel",
        F.expr(f"CAST(round(({dist}) * 1000000) AS BIGINT)").alias(
            "dist_micro"
        ),
    )
    best = scored.groupBy("s", "vec_id").agg(
        F.min("dist_micro").alias("mind")
    )
    sc2 = scored.select(
        F.col("s").alias("s2"), F.col("vec_id").alias("v2"),
        F.col("label").alias("l2"), F.col("clabel").alias("c2"),
        F.col("dist_micro").alias("d2"),
    )
    pred = (
        sc2.join(
            best,
            (F.col("s2") == best.s)
            & (F.col("v2") == best.vec_id)
            & (F.col("d2") == best.mind),
        )
        .groupBy("s2", "v2")
        .agg(
            F.min("c2").cast("long").alias("pred_label"),
            F.min("l2").cast("long").alias("true_label"),
        )
    )
    ntr = cents.groupBy(F.col("s").alias("sn")).agg(
        F.sum("n_train_l").cast("long").alias("n_train")
    )
    return pred, ntr


@query(
    "m44_learning_curve",
    _m44_oracle(),
    "Learning-curve evaluation in ONE pass (the data-scaling diagnostic "
    "every training pipeline runs before buying more data — accuracy "
    "vs training-set size): NESTED deterministic train subsets (hash "
    "bucket < s for s in 5/20/40/80 percent — nesting means the curve "
    "is monotone in information, not resample noise), a nearest-class-"
    "centroid model fit per (fraction, class) by conditional "
    "aggregation (64 exact integer micro-sums per cell — the fit IS "
    "the aggregation, no iteration), and a held-out 20%% scored "
    "against the 40-row broadcast centroid frame with a fixed-order "
    "unrolled 64-term distance (bit-identical doubles in both "
    "engines, micro-quantized before the argmin; ties break to the "
    "smallest label via the min-then-join-back pattern). The corpus "
    "is scanned ONCE for all fractions — the reference's "
    "one-training-run-per-size loop becomes conditional aggregation, "
    "the m43 grid discipline applied to train-set size.",
)
def m44_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, ntr = _m44_pred_dfs(spark, sf_dir)
    out = (
        pred.groupBy("s2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .join(ntr, F.col("s2") == F.col("sn"))
    )
    return out.select(
        F.col("s2").cast("long").alias("s"),
        "n_train",
        "n_test",
        "n_correct",
        F.round(
            F.col("n_correct").cast("double")
            / F.col("n_test").cast("double")
            * 1000000,
            0,
        )
        .cast("long")
        .alias("acc_micro"),
    )


def _m45_oracle() -> str:
    return _m44_pred_ctes() + """
    , pc AS (
        SELECT cls.clabel AS label,
               sum(CASE WHEN p.pred_label = cls.clabel
                         AND p.true_label = cls.clabel
                        THEN 1 ELSE 0 END)::BIGINT AS tp,
               sum(CASE WHEN p.pred_label = cls.clabel
                         AND p.true_label <> cls.clabel
                        THEN 1 ELSE 0 END)::BIGINT AS fp,
               sum(CASE WHEN p.pred_label <> cls.clabel
                         AND p.true_label = cls.clabel
                        THEN 1 ELSE 0 END)::BIGINT AS fn
        FROM pred p
        CROSS JOIN (SELECT DISTINCT label AS clabel FROM embeddings) cls
        WHERE p.s = 80
        GROUP BY cls.clabel
    )
    SELECT label, tp, fp, fn,
           CAST(round(CASE WHEN tp + fp > 0
                THEN tp / (tp + fp)::DOUBLE ELSE 0 END * 1000000) AS BIGINT)
               AS precision_micro,
           CAST(round(CASE WHEN tp + fn > 0
                THEN tp / (tp + fn)::DOUBLE ELSE 0 END * 1000000) AS BIGINT)
               AS recall_micro,
           CAST(round(CASE WHEN 2 * tp + fp + fn > 0
                THEN 2 * tp / (2 * tp + fp + fn)::DOUBLE ELSE 0 END
                * 1000000) AS BIGINT) AS f1_micro
    FROM pc
    """


@query(
    "m45_multiclass_f1",
    _m45_oracle(),
    "Multiclass one-vs-rest precision/recall/F1 per class (the k-class "
    "generalization of a6's binary confusion metrics — macro-F1 is the "
    "standard imbalance-robust eval the reference's tpr/fpr tables "
    "cannot express): m44's centroid predictions at the full training "
    "fraction (the shared pred stage, one corpus scan), crossed with "
    "the class list so ABSENT predictions still emit a zero row per "
    "class (the degenerate-class case that silently vanishes from "
    "naive groupBys), per-class exact int64 tp/fp/fn, micro-unit "
    "rates. The class frame is dimension-sized; everything corpus-"
    "sized happened in the shared scan.",
)
def m45_multiclass_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred, _ = _m44_pred_dfs(spark, sf_dir)
    p80 = pred.filter(F.col("s2") == 80)
    cls = (
        _t(spark, sf_dir, "embeddings")
        .select(F.col("label").cast("long").alias("label"))
        .distinct()
    )
    pc = (
        p80.crossJoin(F.broadcast(cls))
        .groupBy("label")
        .agg(
            F.sum(
                F.when(
                    (F.col("pred_label") == F.col("label"))
                    & (F.col("true_label") == F.col("label")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(
                    (F.col("pred_label") == F.col("label"))
                    & (F.col("true_label") != F.col("label")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(
                    (F.col("pred_label") != F.col("label"))
                    & (F.col("true_label") == F.col("label")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    rate = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    return pc.select(
        "label", "tp", "fp", "fn",
        F.round(rate(F.col("tp"), F.col("tp") + F.col("fp")) * 1000000, 0)
        .cast("long").alias("precision_micro"),
        F.round(rate(F.col("tp"), F.col("tp") + F.col("fn")) * 1000000, 0)
        .cast("long").alias("recall_micro"),
        F.round(
            rate(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn"))
            * 1000000, 0,
        ).cast("long").alias("f1_micro"),
    )
