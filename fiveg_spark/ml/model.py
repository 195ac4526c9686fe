"""The hybrid GRN→GRU×2→MHA→pool→GRN→Dense network (SURVEY §2 D8).

Numpy re-implementation of the reference architecture
(train.py:115-173): GatedResidualNetwork (ELU dense → linear dense,
GLU-style sigmoid gate, residual + LayerNorm), two stacked GRUs
(128, 64), 4-head MultiHeadAttention (key_dim 32) with residual
LayerNorm, GlobalAveragePooling over time, GRN(32), Dense(k).

This module is the network's only definition: sizes (``Dims``), weight
init, the layer forwards and ``forward`` serve both the fixed
(seeded) model that ``hybrid_forecast`` scores and the per-slice models
``ml/train.py`` fits.  ``forward`` records what backpropagation needs
into ``tape`` when given a list — references to arrays it computes
anyway, no per-step copies — and records nothing otherwise, so
inference and training run the same arithmetic.

Execution model: weights are a small pytree of numpy arrays, broadcast
once; scoring runs chunked vectorized forward passes (``score_chunks``)
on the executors — per Arrow batch of (window × k) sequences here
(``predict_residuals``), per residual series in the forecast
(``hybrid.predict_residuals``).  No driver tensor, no per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fiveg_spark.ml.features import FEATURES

K = len(FEATURES)


DTYPE = np.float32  # TF inference dtype; also sidesteps this BLAS build's
# pathological float64 batched-matmul path (~200× slower than float32)

LN_EPS = 1e-3  # keras LayerNormalization default


@dataclass(frozen=True)
class Dims:
    """Architecture sizes (reference defaults, train.py:115-173)."""

    k: int = K
    d1: int = 64  # GRN-1 units
    u1: int = 128  # GRU-1 units
    u2: int = 64  # GRU-2 units
    heads: int = 4
    kd: int = 32  # per-head key dim
    d2: int = 32  # GRN-2 units


def init_weights(dims: Dims = Dims(), seed: int = 42, dtype=DTYPE) -> dict[str, np.ndarray]:
    """Deterministic Glorot-uniform weight pytree for the full network."""
    rng = np.random.default_rng(seed)

    def glorot(fan_in: int, fan_out: int) -> np.ndarray:
        limit = np.sqrt(6.0 / (fan_in + fan_out))
        return rng.uniform(-limit, limit, size=(fan_in, fan_out)).astype(dtype)

    w: dict[str, np.ndarray] = {}

    def grn(name: str, d_in: int, units: int) -> None:
        w[f"{name}.elu_W"] = glorot(d_in, units)
        w[f"{name}.elu_b"] = np.zeros(units, dtype)
        w[f"{name}.lin_W"] = glorot(units, units)
        w[f"{name}.lin_b"] = np.zeros(units, dtype)
        w[f"{name}.gate_W"] = glorot(d_in, units)
        w[f"{name}.gate_b"] = np.zeros(units, dtype)
        if d_in != units:
            w[f"{name}.skip_W"] = glorot(d_in, units)
            w[f"{name}.skip_b"] = np.zeros(units, dtype)
        w[f"{name}.ln_g"] = np.ones(units, dtype)
        w[f"{name}.ln_b"] = np.zeros(units, dtype)

    def gru(name: str, d_in: int, units: int) -> None:
        # fused kernels, gate order (z, r, h) — keras layout
        w[f"{name}.Wx"] = glorot(d_in, 3 * units)
        w[f"{name}.Wh"] = glorot(units, 3 * units)
        w[f"{name}.b"] = np.zeros(3 * units, dtype)

    grn("grn1", dims.k, dims.d1)
    gru("gru1", dims.d1, dims.u1)
    gru("gru2", dims.u1, dims.u2)
    for proj in ("q", "k", "v"):
        w[f"mha.{proj}_W"] = glorot(dims.u2, dims.heads * dims.kd)
        w[f"mha.{proj}_b"] = np.zeros(dims.heads * dims.kd, dtype)
    w["mha.out_W"] = glorot(dims.heads * dims.kd, dims.u2)
    w["mha.out_b"] = np.zeros(dims.u2, dtype)
    w["mha.ln_g"] = np.ones(dims.u2, dtype)
    w["mha.ln_b"] = np.zeros(dims.u2, dtype)
    grn("grn2", dims.u2, dims.d2)
    w["head_W"] = glorot(dims.d2, dims.k)
    w["head_b"] = np.zeros(dims.k, dtype)
    return w


def _elu(x: np.ndarray) -> np.ndarray:
    return np.where(x > 0, x, np.expm1(np.minimum(x, x.dtype.type(0.0))))


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -60, 60)))


def _layernorm(x: np.ndarray, g: np.ndarray, b: np.ndarray, tape=None) -> np.ndarray:
    centered = x - x.mean(axis=-1, keepdims=True)
    sd = np.sqrt(x.var(axis=-1, keepdims=True) + LN_EPS)
    if tape is not None:
        tape.append((centered, sd))
    return g * centered / sd + b


def _grn(x: np.ndarray, w: dict, name: str, mask=None, tape=None) -> np.ndarray:
    """x: (..., d_in) → (..., units).  ``mask`` is an inverted-dropout
    mask on the ELU activation (reference GRN: Dropout between
    elu_dense and linear_dense, train.py:140-142); None = inference."""
    skip = (
        x @ w[f"{name}.skip_W"] + w[f"{name}.skip_b"]
        if f"{name}.skip_W" in w
        else x
    )
    a = x @ w[f"{name}.elu_W"] + w[f"{name}.elu_b"]
    v1 = _elu(a)
    if mask is not None:
        v1 = v1 * mask
    v2 = v1 @ w[f"{name}.lin_W"] + w[f"{name}.lin_b"]
    s = _sigmoid(x @ w[f"{name}.gate_W"] + w[f"{name}.gate_b"])
    ln = [] if tape is not None else None
    out = _layernorm(skip + v2 * s, w[f"{name}.ln_g"], w[f"{name}.ln_b"], ln)
    if tape is not None:
        tape.append((x, a, v1, v2, s, ln[0], mask))
    return out


def _gru(x: np.ndarray, w: dict, name: str, tape=None) -> np.ndarray:
    """x: (B, T, d_in) → (B, T, units), batched across B at each step.
    The tape keeps each step's gates (z, r, h̃, h-slice of h_prev @ Wh)."""
    B, T_, _ = x.shape
    units = w[f"{name}.Wh"].shape[0]
    Wx, Wh, b = w[f"{name}.Wx"], w[f"{name}.Wh"], w[f"{name}.b"]
    h = np.zeros((B, units), dtype=x.dtype)
    out = np.empty((B, T_, units), dtype=x.dtype)
    steps = [] if tape is not None else None
    for t in range(T_):
        gx = x[:, t] @ Wx + b
        gh = h @ Wh
        z = _sigmoid(gx[:, :units] + gh[:, :units])
        r = _sigmoid(gx[:, units : 2 * units] + gh[:, units : 2 * units])
        hh = np.tanh(gx[:, 2 * units :] + r * gh[:, 2 * units :])
        h = z * h + (1.0 - z) * hh
        out[:, t] = h
        if steps is not None:
            steps.append((z, r, hh, gh[:, 2 * units :]))
    if tape is not None:
        tape.append((x, out, steps))
    return out


def _mha(x: np.ndarray, w: dict, dims: Dims, tape=None) -> np.ndarray:
    """Multi-head self-attention, residual + LayerNorm."""
    B, T_, d = x.shape
    heads, kd = dims.heads, dims.kd

    def proj(name: str) -> np.ndarray:
        p = x @ w[f"mha.{name}_W"] + w[f"mha.{name}_b"]
        return p.reshape(B, T_, heads, kd).transpose(0, 2, 1, 3)  # B,H,T,kd

    q, k_, v = proj("q"), proj("k"), proj("v")
    # 3-D batched GEMM (B*H as the batch axis): this BLAS build's 4-D
    # matmul path is orders of magnitude slower than the 3-D one
    q3 = q.reshape(B * heads, T_, kd)
    k3 = k_.reshape(B * heads, T_, kd)
    v3 = v.reshape(B * heads, T_, kd)
    scores = q3 @ k3.transpose(0, 2, 1) / np.asarray(np.sqrt(kd), dtype=x.dtype)
    scores -= scores.max(axis=-1, keepdims=True)
    att = np.exp(scores)
    att /= att.sum(axis=-1, keepdims=True)
    ctx = (
        (att @ v3)
        .reshape(B, heads, T_, kd)
        .transpose(0, 2, 1, 3)
        .reshape(B, T_, heads * kd)
    )
    out = ctx @ w["mha.out_W"] + w["mha.out_b"]
    ln = [] if tape is not None else None
    y = _layernorm(x + out, w["mha.ln_g"], w["mha.ln_b"], ln)
    if tape is not None:
        tape.append((x, q3, k3, v3, att, ctx, ln[0]))
    return y


def forward(
    X: np.ndarray, w: dict[str, np.ndarray], dims: Dims = Dims(), masks=None, tape=None
) -> np.ndarray:
    """(B, window, k) → (B, k) residual prediction, in the weights' dtype.

    ``masks`` (``train.make_dropout_masks``) turns on training-mode
    dropout; ``tape``, a list, receives one record per layer in call
    order plus a final (grn2 output, masks) record for ``train.backward``."""
    x = np.asarray(X, dtype=w["head_W"].dtype)
    masks = masks or {}
    x = _grn(x, w, "grn1", masks.get("grn1"), tape)
    if "gru1_in" in masks:
        x = x * masks["gru1_in"]
    x = _gru(x, w, "gru1", tape)
    if "gru2_in" in masks:
        x = x * masks["gru2_in"]
    x = _gru(x, w, "gru2", tape)
    x = _mha(x, w, dims, tape)
    x = x.mean(axis=1)  # GlobalAveragePooling1D
    x = _grn(x, w, "grn2", masks.get("grn2"), tape)
    if tape is not None:
        tape.append((x, masks))
    return x @ w["head_W"] + w["head_b"]


def stack_seqs(seqs) -> np.ndarray:
    """``seq`` column cells (window × k nested lists) → (B, window, k)."""
    return np.stack([np.stack([np.asarray(r, dtype=DTYPE) for r in s]) for s in seqs])


PRED_SCHEMA = T.StructType(
    [
        T.StructField("slice", T.StringType()),
        T.StructField("window_start", T.TimestampType()),
        T.StructField("split", T.StringType()),
        T.StructField("target", T.ArrayType(T.DoubleType())),
        T.StructField("resid_pred", T.ArrayType(T.DoubleType())),
    ]
)


CHUNK = 128  # sequences per forward pass: bounds peak working memory
# (MHA scores dominate: CHUNK·4·60·60 f32 ≈ 7 MB) so executor memory
# stays flat regardless of Arrow batch size, and freshly-faulted pages
# get reused by every subsequent chunk.  Which rows share a chunk moves
# a row's float32 output by up to ~1e-6, so the forecast chunks each
# series on its own (``hybrid.predict_residuals``).


def score_chunks(seqs: np.ndarray, predict) -> np.ndarray:
    """float64 (B, k) predictions for B sequences, one ``predict(X)`` per
    CHUNK of them.  ``seqs`` is a (B, window, k) array, or an object
    array of ``seq`` cells that is stacked one chunk at a time."""
    parts = []
    for lo in range(0, len(seqs), CHUNK):
        part = seqs[lo : lo + CHUNK]
        parts.append(predict(stack_seqs(part) if part.dtype == object else part))
    return np.concatenate(parts).astype(np.float64) if parts else np.empty((0, 0))


def pred_frame(pdf: pd.DataFrame, preds: np.ndarray) -> pd.DataFrame:
    """PRED_SCHEMA rows: ``pdf``'s keys and targets beside ``preds``."""
    return pd.DataFrame(
        {
            "slice": pdf["slice"].values,
            "window_start": pdf["window_start"].values,
            "split": pdf["split"].values,
            "target": [list(map(float, t)) for t in pdf["target"]],
            "resid_pred": [p.tolist() for p in preds],
        }
    )


def predict_residuals(sequences: DataFrame, weights_bc) -> DataFrame:
    """mapInPandas scoring of one broadcast weight pytree over one
    ``seq`` cell per row, each Arrow batch scored as it streams."""

    def score(batches):
        w = weights_bc.value
        for pdf in batches:
            yield pred_frame(pdf, score_chunks(pdf["seq"].values, lambda X: forward(X, w)))

    return sequences.mapInPandas(score, schema=PRED_SCHEMA)
