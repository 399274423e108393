"""ML training pipeline — the nnTraining2/runSequence.py equivalent
(SURVEY §3.2): select → flatten/repair → split → features → augment →
train → test.

The reference chains eight scripts through CSV files on disk with
multiprocessing pools inside two of them (runSequence.py:799-1732). Here
each stage is a DataFrame→DataFrame function and the chain is ONE lazy
plan (optionally checkpointed to Parquet between stages at scale);
executor parallelism replaces the pools.

The trainer itself is a deliberately small seeded logistic-regression
fit over streamed numpy batches — DL runtimes are absent here, and the
reference's fit loop is equally single-node; everything up to and after
the fit is distributed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseizuredatabase_spark.functions.features import extract_epoch_features
from openseizuredatabase_spark.lineage import pin
from openseizuredatabase_spark.ml.inference import (
    LinearModel,
    iter_training_batches,
    predict_proba,
)
from openseizuredatabase_spark.operators.aggregates import (
    confusion_matrix,
    derived_metrics,
    event_rollup,
)
from openseizuredatabase_spark.operators.splits import modulo_folds
from openseizuredatabase_spark.operators.windows import drop_overlaps
from openseizuredatabase_spark.sources.ingest import type_to_label

FEATURE_KEYS = (
    "activity_count_magnitude",
    "std_magnitude",
    "mean_freq_magnitude",
    "entropy_magnitude",
    "total_power_magnitude_osdRoi",
    "zcr_magnitude",
)


@dataclass(frozen=True)
class TrainConfig:
    test_fold: int = 0
    n_folds: int = 5
    window_len: int = 125
    step: int = 125
    epochs: int = 60
    lr: float = 0.5
    seed: int = 42


def prepare_epochs(events_dp: DataFrame, cfg: TrainConfig) -> DataFrame:
    """select → repair → features → labels → folds (stages 1-5)."""
    repaired = drop_overlaps(events_dp, ["eventId"], "dpTimestamp", 3.0)
    labels = (
        events_dp.groupBy("eventId")
        .agg(F.first("type", ignorenulls=True).alias("type"))
        .select("eventId", type_to_label(F.col("type")).alias("label"))
        .filter(F.col("label") != 2)
    )
    feats = extract_epoch_features(
        repaired, window_len=cfg.window_len, step=cfg.step
    )
    fvec = feats.select(
        "eventId",
        "startSample",
        F.array(
            *[F.element_at("features", k) for k in FEATURE_KEYS]
        ).alias("fvec"),
    )
    labeled = fvec.join(F.broadcast(labels), "eventId")
    return modulo_folds(labeled, "eventId", cfg.n_folds)


def fit_logistic(
    train: DataFrame, cfg: TrainConfig, vec_col: str = "fvec"
) -> LinearModel:
    """Seeded mini-batch logistic regression over streamed batches —
    stands in for the keras fit (nnTrainer.py:518-1401) with the same
    data contract. Features are standardized with train-split stats
    (computed distributed, applied in closed form to the weights)."""
    stats = train.select(
        F.posexplode(vec_col).alias("i", "v")
    ).groupBy("i").agg(F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd"))
    rows = sorted((r.i, r.mu, r.sd or 1.0) for r in stats.collect())
    mu = np.array([r[1] for r in rows])
    sd = np.array([max(r[2], 1e-9) for r in rows])

    rng = np.random.default_rng(cfg.seed)
    w = rng.normal(0, 0.01, len(mu))
    b = 0.0
    for _ in range(cfg.epochs):
        for x_raw, y in iter_training_batches(train, vec_col, "label", 4096):
            x = (x_raw - mu) / sd
            p = 1.0 / (1.0 + np.exp(-(x @ w + b)))
            g = p - y
            w -= cfg.lr * (x.T @ g) / len(y)
            b -= cfg.lr * float(g.mean())
    # fold standardization into the weights: score(x) = w·(x-mu)/sd + b
    w_raw = w / sd
    b_raw = b - float((w * mu / sd).sum())
    return LinearModel(weights=tuple(w_raw), bias=b_raw)


def run_training_pipeline(
    events_dp: DataFrame, cfg: TrainConfig | None = None
) -> tuple[LinearModel, DataFrame]:
    """Full §3.2 chain; returns (model, per-event test metrics)."""
    cfg = cfg or TrainConfig()
    # the fit's epochs and the test scoring all read this frame
    epochs = pin(prepare_epochs(events_dp, cfg))
    train = epochs.filter(F.col("fold") != cfg.test_fold)
    test = epochs.filter(F.col("fold") == cfg.test_fold)
    model = fit_logistic(train, cfg)
    scored = predict_proba(test, model, "fvec", "pSeizure")
    rolled = event_rollup(
        scored, ["eventId", "label"], F.col("pSeizure") > 0.5, F.col("pSeizure")
    )
    cm = confusion_matrix(rolled, F.col("label") == 1, F.col("pred") == 1)
    return model, derived_metrics(cm)
