"""Distributed training of the hybrid residual network (SURVEY §2 D8/D9).

Closes the train.py parity gap (reference train.py:147-261:
``build_model`` + Adam/Huber compile + fit).  The network itself — sizes,
weight init and the forward pass — lives once in ml/model.py; this
module adds what only training needs: exact reverse-mode gradients for
GRN → GRU×2 → MHA → mean-pool → GRN → Dense, read off the forward's
tape, plus the Huber loss, Adam, ReduceLROnPlateau and dropout masks,
all in numpy.

Execution model (Spark-idiomatic for "many small models", the same shape
as pandas-UDF model fitting in the MLlib docs):
  - the residual training frame is TINY by construction (one row per
    (slice, hour) AFTER the events aggregation — thousands of rows at
    100 TB input), so each slice's model fits comfortably in one task;
  - ``applyInPandas`` groups by slice and runs one Adam loop per group,
    executors train the 3+ slices in parallel;
  - weights come back as ROWS (slice, param, shape, values) — bounded
    (~200k floats/slice), never a driver tensor during training;
  - scoring broadcasts the collected per-slice pytrees and runs
    ml/model.py's chunk scorer with each slice's weights.

Gradient correctness is locked by a finite-difference pytest
(tests/test_train.py) over every parameter of a tiny-dims model in
float64 — the same check autograd frameworks run in CI.  Training math
runs in float32 (this BLAS build's float64 batched-matmul path is
pathologically slow — see ml/model.py) which is also the reference's
TF dtype.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiveg_spark.ml.model import (
    PRED_SCHEMA,
    Dims,
    forward,
    init_weights,
    pred_frame,
    score_chunks,
    stack_seqs,
)

# ---------------- backward of each layer, from the forward's tape ----------------


def _ln_bwd(dy, rec, g):
    centered, sd = rec
    xhat = centered / sd
    D = xhat.shape[-1]
    dg = (dy * xhat).reshape(-1, D).sum(axis=0)
    db = dy.reshape(-1, D).sum(axis=0)
    dxhat = dy * g
    dx = (
        D * dxhat
        - dxhat.sum(axis=-1, keepdims=True)
        - xhat * (dxhat * xhat).sum(axis=-1, keepdims=True)
    ) / (D * sd)
    return dx, dg, db


def _grn_bwd(dout, rec, w, name, grads):
    x, a, v1, v2, s, ln_rec, mask = rec
    d_in = x.shape[-1]
    units = v2.shape[-1]
    dpre, dg, db = _ln_bwd(dout, ln_rec, w[f"{name}.ln_g"])
    grads[f"{name}.ln_g"] = dg
    grads[f"{name}.ln_b"] = db
    x2 = x.reshape(-1, d_in)
    dskip = dpre
    dv2 = dpre * s
    ds = dpre * v2
    dgi = ds * s * (1.0 - s)
    grads[f"{name}.lin_W"] = v1.reshape(-1, units).T @ dv2.reshape(-1, units)
    grads[f"{name}.lin_b"] = dv2.reshape(-1, units).sum(axis=0)
    dv1 = dv2 @ w[f"{name}.lin_W"].T
    if mask is not None:
        dv1 = dv1 * mask  # chain through the dropout scaling
    da = dv1 * np.where(a > 0, 1.0, np.exp(np.minimum(a, 0.0)))
    grads[f"{name}.elu_W"] = x2.T @ da.reshape(-1, units)
    grads[f"{name}.elu_b"] = da.reshape(-1, units).sum(axis=0)
    grads[f"{name}.gate_W"] = x2.T @ dgi.reshape(-1, units)
    grads[f"{name}.gate_b"] = dgi.reshape(-1, units).sum(axis=0)
    dx = da @ w[f"{name}.elu_W"].T + dgi @ w[f"{name}.gate_W"].T
    if f"{name}.skip_W" in w:
        grads[f"{name}.skip_W"] = x2.T @ dskip.reshape(-1, units)
        grads[f"{name}.skip_b"] = dskip.reshape(-1, units).sum(axis=0)
        dx = dx + dskip @ w[f"{name}.skip_W"].T
    else:
        dx = dx + dskip
    return dx


def _gru_bwd(dH, rec, w, name, grads):
    x, H, steps = rec
    B, T_, d_in = x.shape
    units = H.shape[-1]
    Wx, Wh = w[f"{name}.Wx"], w[f"{name}.Wh"]
    dWx = np.zeros_like(Wx)
    dWh = np.zeros_like(Wh)
    db = np.zeros(3 * units, dtype=Wx.dtype)
    dx = np.empty_like(x)
    dh = np.zeros((B, units), dtype=x.dtype)
    for t in range(T_ - 1, -1, -1):
        dht = dH[:, t] + dh
        z, r, hh, ghh = steps[t]
        hp = H[:, t - 1] if t else np.zeros_like(dh)
        dz = dht * (hp - hh)
        dhh = dht * (1.0 - z)
        dh = dht * z
        dhh_pre = dhh * (1.0 - hh * hh)
        dr = dhh_pre * ghh
        dz_pre = dz * z * (1.0 - z)
        dr_pre = dr * r * (1.0 - r)
        dgx = np.concatenate([dz_pre, dr_pre, dhh_pre], axis=1)
        dgh = np.concatenate([dz_pre, dr_pre, dhh_pre * r], axis=1)
        dWx += x[:, t].T @ dgx
        dWh += hp.T @ dgh
        db += dgx.sum(axis=0)
        dx[:, t] = dgx @ Wx.T
        dh = dh + dgh @ Wh.T
    grads[f"{name}.Wx"] = dWx
    grads[f"{name}.Wh"] = dWh
    grads[f"{name}.b"] = db
    return dx


def _mha_bwd(dy, rec, w, dims: Dims, grads):
    x, q3, k3, v3, att, ctx, ln_rec = rec
    B, T_, d = x.shape
    H, kd = dims.heads, dims.kd
    root = np.asarray(np.sqrt(kd), dtype=x.dtype)
    dpre, dg, db = _ln_bwd(dy, ln_rec, w["mha.ln_g"])
    grads["mha.ln_g"] = dg
    grads["mha.ln_b"] = db
    dx = dpre.copy()  # residual branch
    dout = dpre
    grads["mha.out_W"] = ctx.reshape(-1, H * kd).T @ dout.reshape(-1, d)
    grads["mha.out_b"] = dout.reshape(-1, d).sum(axis=0)
    dctx = (dout @ w["mha.out_W"].T).reshape(B, T_, H, kd).transpose(0, 2, 1, 3)
    dctx3 = dctx.reshape(B * H, T_, kd)
    datt = dctx3 @ v3.transpose(0, 2, 1)
    dv3 = att.transpose(0, 2, 1) @ dctx3
    dscores = att * (datt - (datt * att).sum(axis=-1, keepdims=True))
    dq3 = (dscores @ k3) / root
    dk3 = (dscores.transpose(0, 2, 1) @ q3) / root

    def unproj(d3, name):
        flat = (
            d3.reshape(B, H, T_, kd).transpose(0, 2, 1, 3).reshape(-1, H * kd)
        )
        grads[f"mha.{name}_W"] = x.reshape(-1, d).T @ flat
        grads[f"mha.{name}_b"] = flat.sum(axis=0)
        return (flat @ w[f"mha.{name}_W"].T).reshape(B, T_, d)

    dx += unproj(dq3, "q") + unproj(dk3, "k") + unproj(dv3, "v")
    return dx


def make_dropout_masks(
    rng: np.random.Generator,
    dims: Dims,
    B: int,
    T_: int,
    dtype=np.float32,
    p_grn: float = 0.1,
    p_gru: float = 0.2,
):
    """Inverted-dropout masks, one set per optimization step, matching
    the reference's sites and rates (train.py:154-163): 0.1 inside each
    GRN (after the ELU dense), 0.2 on each GRU's input — Keras GRU
    input dropout shares one mask across timesteps, hence the (B, 1, d)
    shapes.  Inverted scaling (÷ keep-prob) keeps activations unbiased
    so inference needs no rescale."""

    def keep(p, shape):
        return (rng.random(shape) >= p).astype(dtype) / dtype(1.0 - p)

    return {
        "grn1": keep(p_grn, (B, T_, dims.d1)),
        "gru1_in": keep(p_gru, (B, 1, dims.d1)),
        "gru2_in": keep(p_gru, (B, 1, dims.u1)),
        "grn2": keep(p_grn, (B, dims.d2)),
    }


def backward(dpred, tape, w, dims: Dims):
    """Gradients of every parameter, and of X, from the tape a
    ``forward(..., tape=[])`` call filled."""
    c_g1, c_r1, c_r2, c_m, c_g2, (g2, masks) = tape
    grads: dict[str, np.ndarray] = {}
    grads["head_W"] = g2.T @ dpred
    grads["head_b"] = dpred.sum(axis=0)
    dg2 = dpred @ w["head_W"].T
    dpool = _grn_bwd(dg2, c_g2, w, "grn2", grads)
    T_ = c_m[0].shape[1]
    dm = np.repeat(dpool[:, None, :], T_, axis=1) / T_
    dh2 = _mha_bwd(dm, c_m, w, dims, grads)
    dh1 = _gru_bwd(dh2, c_r2, w, "gru2", grads)
    if "gru2_in" in masks:
        dh1 = dh1 * masks["gru2_in"]
    dg1 = _gru_bwd(dh1, c_r1, w, "gru1", grads)
    if "gru1_in" in masks:
        dg1 = dg1 * masks["gru1_in"]
    dX = _grn_bwd(dg1, c_g1, w, "grn1", grads)
    return grads, dX


def huber_loss_grad(pred, Y, delta: float = 1.0):
    """Mean Huber loss over all (B, k) elements + gradient w.r.t. pred
    (reference compiles loss='huber', train.py:171)."""
    e = pred - Y
    a = np.abs(e)
    quad = np.minimum(a, delta)
    loss = float((0.5 * quad**2 + delta * (a - quad)).mean())
    dpred = np.clip(e, -delta, delta) / e.size
    return loss, dpred


def adam_init(w):
    return (
        {k: np.zeros_like(v, dtype=np.float64) for k, v in w.items()},
        {k: np.zeros_like(v, dtype=np.float64) for k, v in w.items()},
    )


def adam_step(w, grads, m, v, t, lr=1e-3, b1=0.9, b2=0.999, eps=1e-7):
    """Keras-default Adam (eps 1e-7)."""
    for key, g in grads.items():
        g64 = g.astype(np.float64)
        m[key] = b1 * m[key] + (1 - b1) * g64
        v[key] = b2 * v[key] + (1 - b2) * g64 * g64
        mhat = m[key] / (1 - b1**t)
        vhat = v[key] / (1 - b2**t)
        w[key] = (
            w[key].astype(np.float64) - lr * mhat / (np.sqrt(vhat) + eps)
        ).astype(w[key].dtype)


class ReduceLROnPlateau:
    """Keras-semantics LR schedule (reference train.py:246): after
    ``patience`` epochs without improvement of the monitored loss,
    multiply the LR by ``factor``, floored at ``min_lr``; the wait
    counter resets on every improvement and every reduction."""

    def __init__(
        self,
        lr: float,
        patience: int = 5,
        factor: float = 0.5,
        min_lr: float = 1e-6,
    ):
        self.lr = lr
        self.patience = patience
        self.factor = factor
        self.min_lr = min_lr
        self._best = np.inf
        self._wait = 0

    def step(self, monitored: float) -> float:
        """Record this epoch's monitored loss; return the LR to use for
        the NEXT step."""
        if monitored < self._best - 1e-12:
            self._best = monitored
            self._wait = 0
        else:
            self._wait += 1
            if self._wait >= self.patience and self.lr > self.min_lr:
                self.lr = max(self.lr * self.factor, self.min_lr)
                self._wait = 0
        return self.lr


def fit(
    X,
    Y,
    dims: Dims,
    epochs: int = 30,
    lr: float = 2e-3,
    seed: int = 42,
    delta: float = 1.0,
    dtype=np.float32,
    X_val=None,
    Y_val=None,
    dropout: bool = False,
    plateau_patience: int = 5,
    plateau_factor: float = 0.5,
    min_lr: float = 1e-6,
):
    """Full-batch Adam on Huber loss; returns (weights, per-epoch losses).
    Full-batch is the right call here: the per-slice frame is a few
    hundred to a few thousand sequences (hourly aggregate), so one batch
    IS the epoch and the loop stays BLAS-bound.

    With a validation split, keeps the BEST-val-loss epoch's weights
    (early stopping, as the reference's fit(validation_data=...) +
    restore_best_weights, train.py:176-196).

    ``dropout=True`` turns on the reference's regularization (0.1 in
    the GRNs, 0.2 on GRU inputs; fresh inverted masks each epoch;
    validation/inference forward stays mask-free).  The LR follows
    ReduceLROnPlateau semantics (reference train.py:246: patience 5,
    factor 0.5, min_lr 1e-6) on the monitored loss — validation loss
    when a split is given, else training loss."""
    X = np.asarray(X, dtype=dtype)
    Y = np.asarray(Y, dtype=dtype)
    w = init_weights(dims, seed=seed, dtype=dtype)
    mask_rng = np.random.default_rng(seed + 1)
    m, v = adam_init(w)
    losses = []
    best_val = np.inf
    best_w = None
    sched = ReduceLROnPlateau(lr, plateau_patience, plateau_factor, min_lr)
    cur_lr = lr
    for epoch in range(1, epochs + 1):
        masks = (
            make_dropout_masks(mask_rng, dims, X.shape[0], X.shape[1], dtype)
            if dropout
            else None
        )
        tape: list = []
        pred = forward(X, w, dims, masks, tape)
        loss, dpred = huber_loss_grad(pred, Y, delta)
        grads, _ = backward(dpred.astype(dtype), tape, w, dims)
        adam_step(w, grads, m, v, epoch, lr=cur_lr)
        losses.append(loss)
        monitored = loss
        if X_val is not None and len(X_val):
            vp = forward(np.asarray(X_val, dtype=dtype), w, dims)
            vl, _ = huber_loss_grad(vp, np.asarray(Y_val, dtype=dtype), delta)
            monitored = vl
            if vl < best_val:
                best_val = vl
                best_w = {k: a.copy() for k, a in w.items()}
        cur_lr = sched.step(monitored)
    return (best_w if best_w is not None else w), losses


# ---------------- Spark surface ----------------

_WEIGHTS_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("param", T.StringType()),
        T.StructField("shape", T.ArrayType(T.IntegerType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)


def train_residual_models(
    sequences: DataFrame,
    dims: Dims,
    epochs: int = 30,
    lr: float = 2e-3,
    seed: int = 42,
    dropout: bool = False,
) -> DataFrame:
    """Per-slice Adam fit via applyInPandas on the train split.

    One group = one slice's full (tiny) training frame; weights return as
    rows, with the loss curve under the pseudo-param ``__loss__`` so the
    caller can assert convergence without a second pass.  ``dropout``
    enables the reference's regularization (off by default: at these
    per-slice sample sizes the noise hurts more than the
    regularization helps — flip it on for bigger corpora)."""

    def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
        slice_name = pdf["slice"].iloc[0]
        pdf = pdf.sort_values("window_start")

        def stack(g: pd.DataFrame):
            Y = np.stack([np.asarray(t, dtype=np.float32) for t in g["target"]])
            return stack_seqs(g["seq"]), Y

        train_pdf = pdf[pdf["split"] == "train"]
        if len(train_pdf) == 0:
            # a slice whose sequences all fall in val (short/late series)
            # has nothing to fit — emit no model; scoring skips it
            return pd.DataFrame(
                {c: pd.Series(dtype=t) for c, t in
                 [("slice", "object"), ("param", "object"),
                  ("shape", "object"), ("values", "object")]}
            )
        X, Y = stack(train_pdf)
        val = pdf[pdf["split"] == "val"]
        X_val, Y_val = stack(val) if len(val) else (None, None)
        # standardize per feature from the TRAIN targets: raw VAR residuals
        # span orders of magnitude across features, which parks Huber(δ=1)
        # in its linear tail with near-zero gradients.  The net learns on
        # z-scored residuals; scoring inverts with the same (mu, sd).
        mu = Y.mean(axis=0)
        sd = Y.std(axis=0) + 1e-6
        w, losses = fit(
            (X - mu) / sd,
            (Y - mu) / sd,
            dims,
            epochs=epochs,
            lr=lr,
            seed=seed,
            X_val=None if X_val is None else (X_val - mu) / sd,
            Y_val=None if Y_val is None else (Y_val - mu) / sd,
            dropout=dropout,
        )
        rows = [
            {
                "slice": slice_name,
                "param": k,
                "shape": list(v.shape),
                "values": v.astype(np.float64).reshape(-1).tolist(),
            }
            for k, v in w.items()
        ]
        rows.append(
            {
                "slice": slice_name,
                "param": "__loss__",
                "shape": [len(losses)],
                "values": [float(x) for x in losses],
            }
        )
        for pname, arr in (("__mu__", mu), ("__sd__", sd)):
            rows.append(
                {
                    "slice": slice_name,
                    "param": pname,
                    "shape": [len(arr)],
                    "values": arr.astype(np.float64).tolist(),
                }
            )
        return pd.DataFrame(rows)

    train = sequences.filter(F.col("split").isin("train", "val")).select(
        "slice", "window_start", "split", "seq", "target"
    )
    return train.groupBy("slice").applyInPandas(fit_group, schema=_WEIGHTS_SCHEMA)


def collect_weights(weight_rows: DataFrame):
    """Weight rows → {slice: {param: ndarray}} + {slice: losses}.
    Driver-side but bounded: model parameters only (~200k floats/slice),
    the same thing an MLlib model object holds."""
    by_slice: dict[str, dict[str, np.ndarray]] = {}
    losses: dict[str, list[float]] = {}
    for r in weight_rows.collect():
        if r["param"] == "__loss__":
            losses[r["slice"]] = list(r["values"])
            continue
        by_slice.setdefault(r["slice"], {})[r["param"]] = np.asarray(
            r["values"], dtype=np.float32
        ).reshape(r["shape"])
    return by_slice, losses


def _slice_predictor(w: dict[str, np.ndarray], dims: Dims):
    """One slice's weight pytree → ``predict(X)``.  The net learned on
    residuals z-scored by the slice's (``__mu__``, ``__sd__``) rows, so
    inputs are scaled in and predictions scaled back out."""
    net = {k: v for k, v in w.items() if not k.startswith("__")}
    mu, sd = w["__mu__"], w["__sd__"]
    return lambda X: forward((X - mu) / sd, net, dims) * sd + mu


def predict_trained(sequences: DataFrame, weights_bc, dims: Dims) -> DataFrame:
    """mapInPandas scoring with PER-SLICE trained weights; a slice with
    no trained model (no train rows) is skipped."""

    def score(batches):
        by_slice = weights_bc.value
        for pdf in batches:
            for slice_name, g in pdf.groupby("slice"):
                if slice_name in by_slice:
                    predict = _slice_predictor(by_slice[slice_name], dims)
                    yield pred_frame(g, score_chunks(g["seq"].values, predict))

    return sequences.mapInPandas(score, schema=PRED_SCHEMA)


def hybrid_train_eval(
    spark,
    sf_dir: str,
    p: int = 3,
    window: int = 60,
    epochs: int = 60,
    lr: float = 1e-3,
) -> DataFrame:
    """Trained-hybrid vs VAR-only evaluation (the D17 training story).

    Pipeline: residual sequences (``hybrid.residual_pipeline``) →
    per-slice applyInPandas Adam fit on the TRAIN split → broadcast
    weights → score the TEST rows only → per-slice TEST-split RMSE of
    (VAR + trained resid) vs VAR alone, plus first/last training loss.
    Rows-only in the contract (iterative optimization is not SQL); the
    pytest gate asserts loss decreases and the trained hybrid beats
    VAR-only.
    """
    from fiveg_spark.ml.hybrid import residual_pipeline

    dims = Dims()
    resid, sequences, _params = residual_pipeline(spark, sf_dir, p=p, window=window)
    # the sequence frame feeds BOTH the training collect and the scoring
    # pass; without a persist the whole Python-heavy lineage (events scan
    # → hourly agg → VAR residuals → window collect_list) re-executes
    sequences = sequences.persist()
    weight_rows = train_residual_models(sequences, dims, epochs=epochs, lr=lr)
    by_slice, losses = collect_weights(weight_rows)
    bc = spark.sparkContext.broadcast(by_slice)
    # only the test split is evaluated — filter BEFORE the forward pass
    # (the filter cannot push below mapInPandas on its own)
    preds = predict_trained(sequences.filter(F.col("split") == "test"), bc, dims)

    first_loss = {s: ls[0] for s, ls in losses.items()}
    last_loss = {s: ls[-1] for s, ls in losses.items()}
    loss_df = spark.createDataFrame(
        [(s, first_loss[s], last_loss[s]) for s in sorted(losses)],
        "slice STRING, loss_first DOUBLE, loss_last DOUBLE",
    )

    # scaled-space errors: VAR-only error IS the residual target;
    # hybrid error = target - resid_pred
    errs = preds.select(
        "slice",
        F.expr(
            "aggregate(zip_with(target, resid_pred, (t, p) -> (t - p) * (t - p)),"
            " 0D, (a, x) -> a + x)"
        ).alias("se_hybrid"),
        F.expr("aggregate(target, 0D, (a, x) -> a + x * x)").alias("se_var"),
        F.size("target").alias("k"),
    )

    def rollup(grouped):
        return grouped.agg(
            F.count("*").alias("n_test"),
            F.round(F.sqrt(F.sum("se_hybrid") / F.sum(F.col("k"))), 4).alias(
                "rmse_hybrid"
            ),
            F.round(F.sqrt(F.sum("se_var") / F.sum(F.col("k"))), 4).alias("rmse_var"),
        )

    per_slice = rollup(errs.groupBy("slice")).join(loss_df, "slice")
    # pooled row: the single-number "does training pay for itself" answer
    overall = rollup(errs.groupBy(F.lit("ALL").alias("slice"))).select(
        "slice",
        "n_test",
        "rmse_hybrid",
        "rmse_var",
        F.lit(None).cast("double").alias("loss_first"),
        F.lit(None).cast("double").alias("loss_last"),
    )
    return (
        per_slice.select(
            "slice", "n_test", "rmse_hybrid", "rmse_var", "loss_first", "loss_last"
        )
        .unionByName(overall)
        .withColumn("improved", F.col("rmse_hybrid") < F.col("rmse_var"))
        .select(
            "slice",
            "n_test",
            "rmse_var",
            "rmse_hybrid",
            "improved",
            F.round("loss_first", 6).alias("loss_first"),
            F.round("loss_last", 6).alias("loss_last"),
        )
    )


def save_weights(weight_rows: DataFrame, path: str) -> None:
    """Persist trained per-slice weights as parquet — the weight-row
    frame IS the storage format (slice, param, shape, values), so a
    model registry is just a partitioned table."""
    weight_rows.write.mode("overwrite").parquet(path)


def load_weights(spark, path: str):
    """Parquet → ({slice: pytree}, {slice: losses}) — inverse of
    save_weights, same shapes as collect_weights."""
    return collect_weights(spark.read.parquet(path))
