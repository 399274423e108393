"""Single-node minibatch trainer for the engine's numpy model backends —
the nnTrainer role (reference user_tools/nnTraining2/nnTrainer.py: build
tensors from the lake, fit on one node, save an artifact).

Spark-first split, same as the reference's: feature assembly, balancing,
augmentation, and splits are DISTRIBUTED (operators/splits.py,
operators/augment.py, ml.assemble_features); the fit loop itself is a
single-node consumer fed by ``iter_training_batches`` (toLocalIterator —
one partition on the driver at a time, never the whole dataset). The
artifact round-trips through ``save_mlp_npz``/``load_model`` and scores
distributed via the Arrow ``predict_proba`` path.

Pure numpy (the environment has no DL runtime): relu hidden layers,
sigmoid head, binary cross-entropy, plain SGD with a deterministic
seeded init — bit-reproducible given the same input order.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from openseizuredatabase_spark.lineage import pin
from openseizuredatabase_spark.ml.inference import (
    MLPModel,
    iter_training_batches,
)


def _init_layers(
    dims: Sequence[int], seed: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """He-style init, deterministic from the seed."""
    rng = np.random.default_rng(seed)
    layers = []
    for d_in, d_out in zip(dims[:-1], dims[1:]):
        w = rng.normal(0.0, np.sqrt(2.0 / d_in), size=(d_in, d_out))
        layers.append((w, np.zeros(d_out)))
    return layers


def _forward(
    layers: list[tuple[np.ndarray, np.ndarray]], x: np.ndarray
) -> list[np.ndarray]:
    """Activations per layer (input first); relu hiddens, sigmoid head —
    the exact MLPModel.predict computation, kept in step with it."""
    acts = [x]
    last = len(layers) - 1
    for i, (w, b) in enumerate(layers):
        z = acts[-1] @ w + b
        acts.append(
            1.0 / (1.0 + np.exp(-z)) if i == last else np.maximum(z, 0.0)
        )
    return acts


def _sgd_step(
    layers: list[tuple[np.ndarray, np.ndarray]],
    x: np.ndarray,
    y: np.ndarray,
    lr: float,
) -> float:
    """One minibatch of backprop; returns the batch BCE loss.

    With a sigmoid head + BCE, the output delta is simply (p - y)/N —
    no separate loss-derivative pass needed.
    """
    acts = _forward(layers, x)
    p = acts[-1][:, 0]
    eps = 1e-12
    loss = float(
        -np.mean(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps))
    )
    delta = ((p - y) / len(y)).reshape(-1, 1)
    for i in range(len(layers) - 1, -1, -1):
        w, b = layers[i]
        a_in = acts[i]
        gw = a_in.T @ delta
        gb = delta.sum(axis=0)
        if i > 0:
            delta = (delta @ w.T) * (acts[i] > 0)  # relu'
        layers[i] = (w - lr * gw, b - lr * gb)
    return loss


def fit_mlp(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    hidden: Sequence[int] = (16,),
    epochs: int = 5,
    lr: float = 0.1,
    batch_size: int = 1024,
    seed: int = 7,
) -> tuple[MLPModel, list[float]]:
    """Train an MLPModel on (vec_col, label_col) and return it with the
    per-epoch mean losses.

    Each epoch streams the dataset through ``iter_training_batches`` —
    the driver holds one batch at a time. Re-scanning per epoch trades
    IO for memory exactly like the reference's generator-based fit.
    """
    first = df.select(vec_col).head(1)
    if not first:
        raise ValueError("empty training frame")
    d_in = len(first[0][0])
    dims = [d_in, *hidden, 1]
    layers = _init_layers(dims, seed)
    losses: list[float] = []
    for _ in range(epochs):
        epoch_losses = []
        for x, y in iter_training_batches(
            df, vec_col, label_col, batch_size
        ):
            epoch_losses.append(
                _sgd_step(layers, x.astype(float), y.astype(float), lr)
            )
        losses.append(float(np.mean(epoch_losses)))
    return MLPModel(layers=tuple(layers)), losses


def fit_tree(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    max_depth: int = 3,
    n_bins: int = 32,
    min_rows: int = 2,
):
    """Distributed histogram-based CART (the rfModel.py:51-100 fit role,
    executed the way MLlib/XGBoost grow trees on a cluster rather than
    sklearn's in-memory sort): returns a ForestModel-layout tree.

    Per level, the ONLY thing crossing the wire is the (node, feature,
    bin) label histogram — bounded by 2^depth x F x n_bins rows no
    matter how large the data — aggregated with map-side combine in one
    shuffle. The driver scans that tiny histogram for the best Gini
    split per node and pushes the decisions back as a column expression;
    the data itself is never collected, sorted globally, or re-read per
    candidate split (the sklearn approach that cannot scale).

    Binning is equi-width from a one-pass min/max; split thresholds are
    placed with nextafter so ``x <= thr`` traversal reproduces the
    training-time bin decision exactly.
    """
    from pyspark.sql import functions as F

    from openseizuredatabase_spark.ml.inference import ForestModel

    nf = len(feature_cols)
    stats = df.select(
        *[F.min(c).alias(f"mn{i}") for i, c in enumerate(feature_cols)],
        *[F.max(c).alias(f"mx{i}") for i, c in enumerate(feature_cols)],
    ).collect()[0]
    mins = np.array([float(stats[f"mn{i}"]) for i in range(nf)])
    widths = np.array(
        [
            max(float(stats[f"mx{i}"]) - mins[i], 1e-12) / n_bins
            for i in range(nf)
        ]
    )
    bin_cols = [
        F.least(
            F.lit(n_bins - 1),
            F.floor((F.col(c) - float(mins[i])) / float(widths[i])),
        )
        .cast("int")
        .alias(f"b{i}")
        for i, c in enumerate(feature_cols)
    ]
    binned = pin(
        df.select(F.col(label_col).cast("double").alias("y"), *bin_cols)
    )

    feat = [-1]
    thr = [0.0]
    left = [-1]
    right = [-1]
    value = [0.0]
    frontier = binned.withColumn("node", F.lit(0))
    open_nodes = {0}
    for _ in range(max_depth):
        if not open_nodes:
            break
        hist_rows = (
            frontier.filter(F.col("node").isin([int(n) for n in open_nodes]))
            .select(
                "node",
                "y",
                F.posexplode(
                    F.array(*[F.col(f"b{i}") for i in range(nf)])
                ).alias("feature", "bin"),
            )
            .groupBy("node", "feature", "bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
            .collect()
        )
        hists: dict[int, np.ndarray] = {}
        for r in hist_rows:
            h = hists.setdefault(r["node"], np.zeros((nf, n_bins, 2)))
            h[r["feature"], r["bin"], 0] = r["n"]
            h[r["feature"], r["bin"], 1] = r["pos"]
        next_open: set[int] = set()
        split_exprs = []
        for node in sorted(open_nodes):
            h = hists.get(node)
            if h is None:
                continue
            tot_n = h[0, :, 0].sum()
            tot_p = h[0, :, 1].sum()
            value[node] = float(tot_p / tot_n) if tot_n else 0.0
            if tot_n < 2 * min_rows or tot_p in (0.0, tot_n):
                continue  # pure or too small: stays a leaf
            parent_gini = 2 * (tot_p / tot_n) * (1 - tot_p / tot_n)
            best = None  # (gain, feature, bin)
            for f in range(nf):
                cn = np.cumsum(h[f, :, 0])
                cp = np.cumsum(h[f, :, 1])
                for b in range(n_bins - 1):
                    ln, lp = cn[b], cp[b]
                    rn, rp = tot_n - ln, tot_p - lp
                    if ln < min_rows or rn < min_rows:
                        continue
                    gl = 2 * (lp / ln) * (1 - lp / ln)
                    gr = 2 * (rp / rn) * (1 - rp / rn)
                    gain = parent_gini - (ln * gl + rn * gr) / tot_n
                    if best is None or gain > best[0] + 1e-15:
                        best = (gain, f, b)
            if best is None or best[0] <= 1e-12:
                continue
            _, f, b = best
            li, ri = len(feat), len(feat) + 1
            feat.extend([-1, -1])
            thr.extend([0.0, 0.0])
            left.extend([-1, -1])
            right.extend([-1, -1])
            value.extend([0.0, 0.0])
            feat[node] = f
            # x <= thr must reproduce bin <= b: the largest double below
            # the right bin edge is the exact traversal-equivalent
            thr[node] = float(
                np.nextafter(mins[f] + widths[f] * (b + 1), -np.inf)
            )
            left[node] = li
            right[node] = ri
            split_exprs.append((node, f, b, li, ri))
            next_open.update((li, ri))
        if not split_exprs:
            break
        node_col = F.col("node")
        for node, f, b, li, ri in split_exprs:
            node_col = F.when(
                F.col("node") == node,
                F.when(F.col(f"b{f}") <= b, li).otherwise(ri),
            ).otherwise(node_col)
        frontier = pin(frontier.withColumn("node", node_col))
        open_nodes = next_open
    if open_nodes:  # leaves created at the final level: fill their values
        vals = (
            frontier.filter(
                F.col("node").isin([int(n) for n in open_nodes])
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
            .collect()
        )
        for r in vals:
            value[r["node"]] = float(r["pos"] / r["n"]) if r["n"] else 0.0
    tree = (
        np.array(feat, dtype=np.int64),
        np.array(thr, dtype=np.float64),
        np.array(left, dtype=np.int64),
        np.array(right, dtype=np.int64),
        np.array(value, dtype=np.float64),
    )
    return ForestModel(trees=(tree,))


def fit_forest(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    id_col: str,
    n_trees: int = 4,
    max_depth: int = 3,
    n_bins: int = 32,
    min_rows: int = 2,
):
    """Random forest = T histogram-CART trees, each on a deterministic
    ~63% row subsample (seeded hash of the id — the bootstrap's
    keep-probability without multiset resampling, bit-stable under any
    partition layout, unlike rand()) and a seeded feature subset of
    ceil(sqrt(F)) columns (the sklearn default for classification).

    Tree fits run sequentially (each is itself distributed); per tree
    the histogram shuffles are the only data movement.
    """
    from pyspark.sql import functions as F

    from openseizuredatabase_spark.functions.hashing import seeded_md5_long
    from openseizuredatabase_spark.ml.inference import ForestModel

    nf = len(feature_cols)
    n_sub = max(1, int(np.ceil(np.sqrt(nf))))
    trees = []
    for t in range(n_trees):
        rng = np.random.default_rng(1000 + t)
        feats = sorted(rng.choice(nf, size=n_sub, replace=False).tolist())
        u = (
            seeded_md5_long(F.col(id_col).cast("string"), 5000 + t).cast(
                "double"
            )
            + 0.5
        ) / float(1 << 60)
        sub = df.filter(u < 0.632)
        sub_tree = fit_tree(
            sub,
            [feature_cols[f] for f in feats],
            label_col,
            max_depth=max_depth,
            n_bins=n_bins,
            min_rows=min_rows,
        ).trees[0]
        feat, thr, left, right, value = sub_tree
        # re-index subset feature ids back to the full feature space
        remap = np.array(feats, dtype=np.int64)
        full_feat = np.where(feat >= 0, remap[np.maximum(feat, 0)], -1)
        trees.append((full_feat, thr, left, right, value))
    return ForestModel(trees=tuple(trees))


def fit_cnn(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    n_filters: int = 8,
    kernel: int = 3,
    epochs: int = 5,
    lr: float = 0.1,
    batch_size: int = 1024,
    seed: int = 11,
):
    """Train a conv1d(valid) → ReLU → global-average-pool → dense →
    sigmoid scorer (the specCnnModel.py:120-167 fit role) in pure numpy
    — closing the train/save/load/score loop for the convolutional
    backend exactly as fit_mlp does for dense nets.

    Same Spark-first split: feature assembly and balancing are
    distributed; the fit loop streams (X, y) batches through
    ``iter_training_batches`` (one partition on the driver at a time).
    Backprop is fully vectorized: the sliding-window view of each batch
    serves both the forward conv einsum and the weight-gradient einsum,
    so cost is O(batch × L × k) with no per-row Python. Deterministic
    seeded init — bit-reproducible given the same input order.

    Returns (CnnModel, per-epoch mean BCE losses).
    """
    from numpy.lib.stride_tricks import sliding_window_view

    from openseizuredatabase_spark.ml.cnn import CnnModel, Layer

    first = df.select(vec_col).head(1)
    if not first:
        raise ValueError("empty training frame")
    length = len(first[0][0])
    t_out = length - kernel + 1
    if t_out < 1:
        raise ValueError("kernel longer than the input signal")
    rng = np.random.default_rng(seed)
    w = rng.normal(0.0, 0.1, (n_filters, kernel))  # (C, k)
    b = np.zeros(n_filters)
    v = rng.normal(0.0, 0.1, n_filters)  # dense head
    c0 = 0.0
    losses: list[float] = []
    for _ in range(epochs):
        epoch_losses = []
        for x, y in iter_training_batches(df, vec_col, label_col, batch_size):
            x = x.astype(float)
            y = y.astype(float)
            n = len(y)
            xw = sliding_window_view(x, kernel, axis=1)  # (N, T, k)
            z = np.einsum("ntj,cj->nct", xw, w) + b[None, :, None]
            a = np.maximum(z, 0.0)
            g = a.mean(axis=2)  # (N, C) global average pool
            logit = g @ v + c0
            p = 1.0 / (1.0 + np.exp(-logit))
            eps = 1e-12
            epoch_losses.append(
                float(
                    -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean()
                )
            )
            d = p - y  # (N,)
            dv = g.T @ d / n
            dc0 = float(d.mean())
            dg = np.outer(d, v)  # (N, C)
            dz = (dg[:, :, None] / t_out) * (z > 0)
            dw = np.einsum("nct,ntj->cj", dz, xw) / n
            db = dz.sum(axis=2).mean(axis=0)
            w -= lr * dw
            b -= lr * db
            v -= lr * dv
            c0 -= lr * dc0
        losses.append(float(np.mean(epoch_losses)))
    model = CnnModel(
        layers=(
            Layer(
                "conv1d",
                (w[:, None, :].copy(), b.copy()),  # (C, 1, k)
                (("stride", 1), ("padding", "valid")),
            ),
            Layer("relu"),
            Layer("gap"),
            Layer("dense", (v[:, None].copy(), np.array([c0]))),
            Layer("sigmoid"),
        ),
        input_shape=(1, length),
    )
    return model, losses
