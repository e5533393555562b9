"""Vanilla-autoencoder FORWARD-PASS inference as an Arrow kernel.

The reference's core scoring path is reconstruction error from a torch
autoencoder: the inference vertex loads a fitted artifact and runs
`model.get_reconstruction_loss(x, reduction="none")` per window
(/root/reference/numalogic/udfs/inference.py:62-86), where the default
model is VanillaAE — Flatten → [Linear → Tanh]×k encoder → [Linear →
Tanh]×(k−1) → Linear decoder → Unflatten
(/root/reference/numalogic/models/autoencoder/variants/vanilla.py:23-205)
and the default criterion is elementwise Huber loss with delta=1
(/root/reference/numalogic/models/autoencoder/base.py:21-62,
numalogic/tools/loss.py). TRAINING that model is declared out of scope
(torch); INFERENCE with a given weights artifact is just dense matmuls
and activations — one Arrow kernel. This module is that kernel.

Eval-mode semantics (what inference actually runs): Dropout is identity,
BatchNorm is off by default (`batchnorm=False`), and with n_features=1
the Flatten/Unflatten/swapdims sandwich is the identity on a length-L
window — so the forward pass is exactly

    h = x
    for (W, b, act) in layers:            # encoder then decoder
        h = act(W @ h + b)                # tanh hidden, last layer linear
    err_k = huber(x_k - h_k)              # 0.5·d² if |d|≤1 else |d|−0.5

The same layer grid with the encoder's FINAL act swapped to relu is
SparseVanillaAE (vanilla.py:305-380 — its sparsity penalty is
train-time only), so one kernel covers both factory names;
`make_sparse_demo_weights` freezes that topology.

CROSS-ENGINE REPLAY DISCIPLINE (the IVF/MCD weights-as-literals rule):
the driver gate re-computes this forward pass in DuckDB from the same
frozen weights embedded as SQL literals. Floating-point sums are
order-sensitive and BLAS reorders them, so the kernel deliberately does
NOT use np.dot for the gated path:

  * every dot product accumulates LEFT-TO-RIGHT (b + w0·x0 + w1·x1 + …),
    the exact tree a SQL engine builds from the same infix expression;
  * tanh is computed as the guarded exp rational form
    (e^{2a}−1)/(e^{2a}+1) with a ±20 saturation clamp (tanh(20) is 1.0
    to 17 significant digits; DuckDB 1.0 has no tanh builtin, and the
    clamp also kills exp overflow → NaN);
  * every post-activation value is snapped to the repo's 6-dp fixed
    point (floor(x·1e6 + 0.5)/1e6) — per LAYER, not just at the output,
    so a last-ULP disagreement between libm exp implementations is
    crushed before it can propagate.

The 6-dp snap is declared kernel semantics, not a test hack: artifacts
are float32 in the reference anyway (~7 significant digits), and the
snap is what makes the score itself hash-gateable by an external engine.

`sql_forward_exprs` emits the matching unrolled SQL — generic ANSI
(floor/exp/CASE/abs) that both Spark SQL and DuckDB parse identically —
so the oracle generator and the pytest parity suite share one source of
truth for the expression shapes.

Scale shape: weights are model-sized (KBs) and ride into the UDF as a
broadcast-closure constant; the kernel is vectorized over Arrow batches
(one fused numpy op per scalar weight, each over the whole batch), no
per-row Python; the surrounding plan is embarrassingly parallel — no
shuffle beyond whatever built the windows.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from numalogic_spark.functions.exprs import round6

TANH_CLAMP = 20.0


@dataclass(frozen=True)
class AELayer:
    w: np.ndarray  # (out, in)
    b: np.ndarray  # (out,)
    act: str  # "tanh" | "relu" | "linear"


@dataclass(frozen=True)
class AEWeights:
    """A fitted VanillaAE artifact: seq_len and the dense layer stack
    (encoder layers then decoder layers, reference layer order)."""

    seq_len: int
    layers: tuple[AELayer, ...]

    def validate(self) -> None:
        prev = self.seq_len
        for i, ly in enumerate(self.layers):
            if ly.w.shape[1] != prev:
                raise ValueError(
                    f"layer {i}: weight in-dim {ly.w.shape[1]} != {prev}"
                )
            if ly.b.shape != (ly.w.shape[0],):
                raise ValueError(f"layer {i}: bias shape {ly.b.shape}")
            if ly.act not in ("tanh", "relu", "linear"):
                raise ValueError(f"layer {i}: unknown act {ly.act!r}")
            prev = ly.w.shape[0]
        if prev != self.seq_len:
            raise ValueError(
                f"decoder out-dim {prev} != seq_len {self.seq_len}"
            )

    # -- registry-style JSON artifact (the BPE-vocab discipline) --------
    def to_json(self) -> str:
        return json.dumps(
            {
                "seq_len": self.seq_len,
                "layers": [
                    {"w": ly.w.tolist(), "b": ly.b.tolist(), "act": ly.act}
                    for ly in self.layers
                ],
            }
        )

    @staticmethod
    def from_json(s: str) -> "AEWeights":
        d = json.loads(s)
        w = AEWeights(
            seq_len=int(d["seq_len"]),
            layers=tuple(
                AELayer(
                    w=np.asarray(ly["w"], dtype=np.float64),
                    b=np.asarray(ly["b"], dtype=np.float64),
                    act=str(ly["act"]),
                )
                for ly in d["layers"]
            ),
        )
        w.validate()
        return w


def make_demo_weights(
    seq_len: int = 8,
    encoder_layersizes: Sequence[int] = (16, 8),
    decoder_layersizes: Sequence[int] = (8, 16),
    seed: int = 1217,
) -> AEWeights:
    """Deterministic frozen demo artifact with the reference's default
    topology (encoder (16, 8), decoder (8, 16), tanh hidden activations,
    linear output — vanilla.py:146-159,135). Weights are U(−0.5, 0.5)
    snapped to 4 dp so the literal printed into oracle SQL is the exact
    float64 the kernel multiplies by. Mersenne-Twister uniform is
    bit-stable across numpy versions; the seed pins the artifact."""
    if encoder_layersizes[-1] != decoder_layersizes[0]:
        raise ValueError("encoder tail must match decoder head")
    rng = np.random.RandomState(seed)
    sizes = [seq_len, *encoder_layersizes, *decoder_layersizes[1:], seq_len]
    layers = []
    for i in range(len(sizes) - 1):
        fan_in, fan_out = sizes[i], sizes[i + 1]
        w = np.round(rng.uniform(-0.5, 0.5, size=(fan_out, fan_in)), 4)
        b = np.round(rng.uniform(-0.1, 0.1, size=fan_out), 4)
        act = "linear" if i == len(sizes) - 2 else "tanh"
        layers.append(AELayer(w=w, b=b, act=act))
    out = AEWeights(seq_len=seq_len, layers=tuple(layers))
    out.validate()
    return out


def make_sparse_demo_weights(
    seq_len: int = 8,
    encoder_layersizes: Sequence[int] = (16, 8),
    decoder_layersizes: Sequence[int] = (8, 16),
    seed: int = 2406,
) -> AEWeights:
    """Deterministic frozen SparseVanillaAE artifact. The sparse variant
    differs from VanillaAE ONLY in the encoder's final activation —
    ReLU instead of Tanh (`_SparseVanillaEncoder._construct_layers`,
    vanilla.py:305-331; the sparsity KL penalty exists only in the
    training loss, vanilla.py:335-380) — so the artifact is the vanilla
    layer grid with one act swapped. Same decoder: Tanh hidden layers,
    linear output (vanilla.py:84-135)."""
    if encoder_layersizes[-1] != decoder_layersizes[0]:
        raise ValueError("encoder tail must match decoder head")
    rng = np.random.RandomState(seed)
    sizes = [seq_len, *encoder_layersizes, *decoder_layersizes[1:], seq_len]
    enc_final = len(encoder_layersizes) - 1
    layers = []
    for i in range(len(sizes) - 1):
        fan_in, fan_out = sizes[i], sizes[i + 1]
        w = np.round(rng.uniform(-0.5, 0.5, size=(fan_out, fan_in)), 4)
        b = np.round(rng.uniform(-0.1, 0.1, size=fan_out), 4)
        if i == enc_final:
            act = "relu"
        elif i == len(sizes) - 2:
            act = "linear"
        else:
            act = "tanh"
        layers.append(AELayer(w=w, b=b, act=act))
    out = AEWeights(seq_len=seq_len, layers=tuple(layers))
    out.validate()
    return out


# ---------------------------------------------------------------------
# numpy forward pass (the kernel body; also the pytest oracle)
# ---------------------------------------------------------------------

def _round6_np(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e6 + 0.5) / 1e6


def _tanh_np(a: np.ndarray) -> np.ndarray:
    clipped = np.clip(a, -TANH_CLAMP, TANH_CLAMP)
    e2 = np.exp(2.0 * clipped)
    t = (e2 - 1.0) / (e2 + 1.0)
    return np.where(a > TANH_CLAMP, 1.0, np.where(a < -TANH_CLAMP, -1.0, t))


def forward_np(weights: AEWeights, x: np.ndarray) -> np.ndarray:
    """Reconstruction of a (n, seq_len) batch — SQL-ordered accumulation
    with per-layer 6-dp snap; returns the (n, seq_len) reconstruction."""
    h = np.asarray(x, dtype=np.float64)
    for ly in weights.layers:
        cols = []
        for j in range(ly.w.shape[0]):
            acc = np.full(h.shape[0], float(ly.b[j]))
            for i in range(ly.w.shape[1]):
                # left-to-right: ((b + w0·x0) + w1·x1) + … — the tree a
                # SQL engine builds from the same infix expression
                acc = acc + float(ly.w[j, i]) * h[:, i]
            cols.append(acc)
        h = np.stack(cols, axis=1)
        if ly.act == "tanh":
            h = _tanh_np(h)
        elif ly.act == "relu":
            h = np.maximum(h, 0.0)
        h = _round6_np(h)
    return h


def zscore_windows_np(x: np.ndarray) -> np.ndarray:
    """Per-window z-scoring of an (n, L) batch with the engine's exact
    discipline (__spark_entry__._ae_z_exprs, shared by every gated AE
    query): left-to-right mean/variance folds, biased variance,
    z = round6((x − m) / (sd + 1e-6)). The streaming AE twin uses this
    so its windows carry bit-identical inputs to the batch plan."""
    x = np.asarray(x, dtype=np.float64)
    L = x.shape[1]
    m = x[:, 0].copy()
    for i in range(1, L):
        m = m + x[:, i]
    m = m / float(L)
    v = (x[:, 0] - m) * (x[:, 0] - m)
    for i in range(1, L):
        v = v + (x[:, i] - m) * (x[:, i] - m)
    sd = np.sqrt(v / float(L))
    return _round6_np((x - m[:, None]) / (sd[:, None] + 0.000001))


def window_scores_np(weights: AEWeights, z: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(err_mean, err_max) per z-scored window — the scalar shape the
    gated queries emit, with the same left-to-right snapped mean."""
    errs = reconstruction_errors_np(weights, z)
    L = errs.shape[1]
    s = errs[:, 0].copy()
    for k in range(1, L):
        s = s + errs[:, k]
    mean6 = _round6_np(s / float(L))
    return mean6, errs.max(axis=1)


def reconstruction_errors_np(weights: AEWeights, x: np.ndarray) -> np.ndarray:
    """Elementwise Huber(delta=1) reconstruction error, 6-dp snapped —
    `get_reconstruction_loss(x, reduction="none")` of the reference."""
    x = np.asarray(x, dtype=np.float64)
    d = x - forward_np(weights, x)
    ad = np.abs(d)
    err = np.where(ad <= 1.0, 0.5 * d * d, ad - 0.5)
    return _round6_np(err)


# ---------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------

def ae_reconstruction_error(
    df: DataFrame,
    weights: AEWeights,
    window_col: str = "window",
    out_col: str = "recon_err",
) -> DataFrame:
    """Append `out_col`: array<double> of per-position Huber
    reconstruction errors for each `window_col` (array<double>, length
    seq_len). One vectorized Arrow kernel; weights ride the closure."""
    weights.validate()

    @F.pandas_udf("array<double>")
    def _kernel(wins: pd.Series) -> pd.Series:
        if wins.empty:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(w, dtype=np.float64) for w in wins])
        errs = reconstruction_errors_np(weights, x)
        return pd.Series([[float(v) for v in row] for row in errs])

    return df.withColumn(out_col, _kernel(F.col(window_col)))


def ae_window_scores(
    df: DataFrame,
    weights: AEWeights,
    window_col: str = "window",
) -> DataFrame:
    """Scalar per-window scores from the error vector: `err_mean` and
    `err_max` (6-dp snapped, SQL-ordered mean sum) — the shape the
    threshold → window-agg → postprocess chain consumes."""
    out = ae_reconstruction_error(df, weights, window_col, "recon_err")
    L = weights.seq_len
    s: Column = F.element_at("recon_err", 1)
    for k in range(2, L + 1):
        s = s + F.element_at("recon_err", k)
    mean6 = round6(s / F.lit(float(L)))
    return out.withColumn("err_mean", mean6).withColumn(
        "err_max", F.array_max("recon_err")
    )


# ---------------------------------------------------------------------
# SQL replay (oracle generation + Spark-SQL parity tests)
# ---------------------------------------------------------------------

def _tanh_sql(a: str) -> str:
    return (
        f"(CASE WHEN ({a}) > {TANH_CLAMP} THEN 1.0 "
        f"WHEN ({a}) < -{TANH_CLAMP} THEN -1.0 "
        f"ELSE (exp(2.0 * ({a})) - 1.0) / (exp(2.0 * ({a})) + 1.0) END)"
    )


def _relu_sql(a: str) -> str:
    return f"(CASE WHEN ({a}) > 0.0 THEN ({a}) ELSE 0.0 END)"


def round6_sql(x: str) -> str:
    # CAST after floor: Spark's floor(DOUBLE) returns BIGINT and a
    # BIGINT / decimal-literal division stays DECIMAL (quantized at
    # engine-chosen scale); DuckDB's floor stays DOUBLE. The cast makes
    # both engines do a double/decimal → double division.
    return f"CAST(floor(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"


def sql_forward_exprs(
    weights: AEWeights, in_cols: Sequence[str], prefix: str = "h"
) -> list[list[str]]:
    """Unrolled per-layer SELECT expressions replaying `forward_np`:
    layer t emits columns `{prefix}{t}_{j} = round6(act(b + Σ w·col))`
    with the same left-to-right term order as the kernel. Returns one
    list of `expr AS name` strings per layer; thread them through
    chained CTEs. Generic SQL — parses identically in Spark and DuckDB."""
    weights.validate()
    layers_sql: list[list[str]] = []
    cols = list(in_cols)
    for t, ly in enumerate(weights.layers):
        exprs = []
        nxt = []
        for j in range(ly.w.shape[0]):
            terms = [repr(float(ly.b[j]))]
            terms += [
                f"{float(ly.w[j, i])!r} * {cols[i]}"
                for i in range(ly.w.shape[1])
            ]
            body = " + ".join(terms)
            if ly.act == "tanh":
                body = _tanh_sql(body)
            elif ly.act == "relu":
                body = _relu_sql(body)
            name = f"{prefix}{t}_{j}"
            exprs.append(f"{round6_sql(body)} AS {name}")
            nxt.append(name)
        layers_sql.append(exprs)
        cols = nxt
    return layers_sql


def sql_error_exprs(
    weights: AEWeights,
    x_cols: Sequence[str],
    recon_cols: Sequence[str],
) -> list[str]:
    """`e{k} = round6(huber(x_k − r_k))` expressions matching
    `reconstruction_errors_np` (delta = 1; the |d| = 1 tie evaluates to
    0.5 on both branches, so the boundary is engine-neutral)."""
    out = []
    for k, (xc, rc) in enumerate(zip(x_cols, recon_cols)):
        d = f"({xc} - {rc})"
        body = (
            f"CASE WHEN abs({d}) <= 1.0 THEN 0.5 * {d} * {d} "
            f"ELSE abs({d}) - 0.5 END"
        )
        out.append(f"{round6_sql(body)} AS e{k}")
    return out
