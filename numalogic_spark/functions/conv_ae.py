"""Conv1dAE FORWARD-PASS inference as an Arrow kernel.

The reference's second autoencoder family is Conv1dAE
(/root/reference/numalogic/models/autoencoder/variants/conv.py:186-282):
encoder = [Conv1d(pad=1) -> BatchNorm1d -> ReLU -> MaxPool1d(pool_k)]*
           + Conv1d(pad=1) -> ReLU                    (conv.py:96-131)
decoder = [ConvTranspose1d(pad=1) -> BatchNorm1d -> ReLU ->
           Upsample(scale=pool_k, mode="linear")]*
           + ConvTranspose1d(pad=1) [+ optional final activation]
                                                      (conv.py:137-182)
As with the vanilla kernel (functions/ae.py), TRAINING is out of scope
(torch); eval-mode INFERENCE with a frozen artifact is deterministic
arithmetic:

  * Conv1d / ConvTranspose1d with stride=1, dilation=1 are small sliding
    dot products — each output position is a sum of kernel_size*in_ch
    scalar multiplies over zero-padded input positions;
  * BatchNorm1d in eval mode is a per-channel affine
    y = x*scale + shift with scale = gamma/sqrt(running_var + eps),
    shift = beta - running_mean*scale — the artifact stores the FOLDED
    (scale, shift) pair;
  * MaxPool1d(k) is greatest() over k adjacent positions;
  * Upsample(mode="linear", align_corners=False) at integer scale s maps
    out[p] = (1-f)*x[i0] + f*x[i0+1] with i0 = floor((p+.5)/s - .5),
    f the fractional part, indices clamped at the edges — fixed rational
    weights (0.25/0.75 at s=2), no data-dependent control flow.

Weight-layout note: torch stores ConvTranspose1d weights as
(in_ch, out_ch, k); this artifact stores every conv op as (out_ch,
in_ch, k) and defines convT as out[o,p] = b[o] + sum_i sum_j
w[o,i,j] * x[i, p+pad-j] — equal to torch with w[o,i,j] = w_t[i,o,j].

CROSS-ENGINE REPLAY DISCIPLINE (identical to functions/ae.py, which see
for the rationale): every dot product accumulates LEFT-TO-RIGHT in
(channel, tap) order, every arithmetic op output is snapped to 6-dp
fixed point, tanh/sigmoid use guarded exp rational forms, ReLU/MaxPool
are exact on snapped values. `sql_forward_exprs` emits the matching
unrolled generic-SQL column grid so the DuckDB oracle and the Spark-SQL
parity test replay the kernel bit-for-bit.

Scale shape: identical to the vanilla kernel — KB-sized weights ride the
UDF closure, one fused numpy op per scalar weight over the whole Arrow
batch, no shuffle beyond whatever built the windows.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from numalogic_spark.functions.ae import (
    TANH_CLAMP,
    _round6_np,
    _tanh_np,
    _tanh_sql,
    round6_sql,
    sql_error_exprs,
)
from numalogic_spark.functions.exprs import round6

SIGMOID_CLAMP = 88.72  # the reference's float32 exp-overflow clip


@dataclass(frozen=True)
class ConvOp:
    """One eval-mode stage. kind:
    conv / convT — w (out_ch, in_ch, k), b (out_ch,), pad
    affine       — scale (ch,), shift (ch,)   [folded BatchNorm]
    act          — name in relu|tanh|sigmoid
    pool         — MaxPool1d(k)
    upsample     — linear Upsample(scale)
    """

    kind: str
    w: np.ndarray | None = None
    b: np.ndarray | None = None
    pad: int = 1
    scale: np.ndarray | None = None
    shift: np.ndarray | None = None
    name: str = ""
    k: int = 2


def _out_shape(op: ConvOp, ch: int, ln: int) -> tuple[int, int]:
    if op.kind in ("conv", "convT"):
        out_ch, in_ch, k = op.w.shape
        if in_ch != ch:
            raise ValueError(f"{op.kind}: in_ch {in_ch} != {ch}")
        if op.b.shape != (out_ch,):
            raise ValueError(f"{op.kind}: bias shape {op.b.shape}")
        if op.kind == "conv":
            out_len = ln + 2 * op.pad - k + 1
        else:
            out_len = ln - 1 + k - 2 * op.pad
        if out_len < 1:
            raise ValueError(f"{op.kind}: output length {out_len} < 1")
        return out_ch, out_len
    if op.kind == "affine":
        if op.scale.shape != (ch,) or op.shift.shape != (ch,):
            raise ValueError("affine: scale/shift must be per-channel")
        return ch, ln
    if op.kind == "act":
        if op.name not in ("relu", "tanh", "sigmoid"):
            raise ValueError(f"unknown activation {op.name!r}")
        return ch, ln
    if op.kind == "pool":
        if ln // op.k < 1:
            raise ValueError("pool: output length < 1")
        return ch, ln // op.k
    if op.kind == "upsample":
        return ch, ln * op.k
    raise ValueError(f"unknown op kind {op.kind!r}")


@dataclass(frozen=True)
class ConvAEWeights:
    """A fitted Conv1dAE artifact: the eval-mode op list threaded from
    (in_channels, seq_len) back to (in_channels, seq_len)."""

    seq_len: int
    in_channels: int = 1
    ops: tuple[ConvOp, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        ch, ln = self.in_channels, self.seq_len
        for i, op in enumerate(self.ops):
            try:
                ch, ln = _out_shape(op, ch, ln)
            except ValueError as ex:
                raise ValueError(f"op {i}: {ex}") from ex
        if (ch, ln) != (self.in_channels, self.seq_len):
            raise ValueError(
                f"final shape ({ch},{ln}) != input "
                f"({self.in_channels},{self.seq_len})"
            )

    def to_json(self) -> str:
        def enc(op: ConvOp) -> dict:
            d = {"kind": op.kind}
            if op.kind in ("conv", "convT"):
                d |= {"w": op.w.tolist(), "b": op.b.tolist(), "pad": op.pad}
            elif op.kind == "affine":
                d |= {"scale": op.scale.tolist(), "shift": op.shift.tolist()}
            elif op.kind == "act":
                d["name"] = op.name
            else:
                d["k"] = op.k
            return d

        return json.dumps(
            {
                "seq_len": self.seq_len,
                "in_channels": self.in_channels,
                "ops": [enc(o) for o in self.ops],
            }
        )

    @staticmethod
    def from_json(s: str) -> "ConvAEWeights":
        d = json.loads(s)

        def dec(o: dict) -> ConvOp:
            kind = o["kind"]
            if kind in ("conv", "convT"):
                return ConvOp(
                    kind=kind,
                    w=np.asarray(o["w"], dtype=np.float64),
                    b=np.asarray(o["b"], dtype=np.float64),
                    pad=int(o["pad"]),
                )
            if kind == "affine":
                return ConvOp(
                    kind=kind,
                    scale=np.asarray(o["scale"], dtype=np.float64),
                    shift=np.asarray(o["shift"], dtype=np.float64),
                )
            if kind == "act":
                return ConvOp(kind=kind, name=o["name"])
            return ConvOp(kind=kind, k=int(o["k"]))

        w = ConvAEWeights(
            seq_len=int(d["seq_len"]),
            in_channels=int(d["in_channels"]),
            ops=tuple(dec(o) for o in d["ops"]),
        )
        w.validate()
        return w


def make_demo_conv_weights(
    seq_len: int = 8,
    enc_channels: Sequence[int] = (4, 2),
    kernel_size: int = 3,
    pool_kernel_size: int = 2,
    dec_activation: str | None = None,
    seed: int = 2026,
) -> ConvAEWeights:
    """Deterministic frozen artifact with the reference's default
    TOPOLOGY (conv.py:215-221 defaults, channel counts shrunk 16,8 ->
    4,2 to keep the weights-as-literals oracle compact — the structure,
    not the width, is what the kernel must replay). Weights U(-0.5,0.5)
    snapped to 4 dp; folded-BN scale U(0.5,1.5), shift U(-0.1,0.1)."""
    rng = np.random.RandomState(seed)

    def conv(kind: str, out_ch: int, in_ch: int) -> ConvOp:
        return ConvOp(
            kind=kind,
            w=np.round(
                rng.uniform(-0.5, 0.5, size=(out_ch, in_ch, kernel_size)), 4
            ),
            b=np.round(rng.uniform(-0.1, 0.1, size=out_ch), 4),
            pad=1,
        )

    def bn(ch: int) -> ConvOp:
        return ConvOp(
            kind="affine",
            scale=np.round(rng.uniform(0.5, 1.5, size=ch), 4),
            shift=np.round(rng.uniform(-0.1, 0.1, size=ch), 4),
        )

    ops: list[ConvOp] = []
    in_ch = 1
    # encoder non-final: ConvBlock (conv+BN+ReLU) + MaxPool (conv.py:108-121)
    for ch in enc_channels[:-1]:
        ops += [conv("conv", ch, in_ch), bn(ch), ConvOp(kind="act", name="relu"),
                ConvOp(kind="pool", k=pool_kernel_size)]
        in_ch = ch
    # encoder latent: Conv + ReLU, no BN (conv.py:123-130)
    ops += [conv("conv", enc_channels[-1], in_ch),
            ConvOp(kind="act", name="relu")]
    in_ch = enc_channels[-1]
    # decoder: dec_channels = reversed(enc[:-1]) + [in_channels] (conv.py:241-244)
    dec_channels = list(reversed(list(enc_channels[:-1]))) + [1]
    for ch in dec_channels[:-1]:
        ops += [conv("convT", ch, in_ch), bn(ch), ConvOp(kind="act", name="relu"),
                ConvOp(kind="upsample", k=pool_kernel_size)]
        in_ch = ch
    ops += [conv("convT", dec_channels[-1], in_ch)]
    if dec_activation:
        ops += [ConvOp(kind="act", name=dec_activation)]
    out = ConvAEWeights(seq_len=seq_len, in_channels=1, ops=tuple(ops))
    out.validate()
    return out


# ---------------------------------------------------------------------
# numpy forward pass (kernel body; also the pytest oracle)
# ---------------------------------------------------------------------

def _sigmoid_np(a: np.ndarray) -> np.ndarray:
    c = np.clip(a, -SIGMOID_CLAMP, SIGMOID_CLAMP)
    return 1.0 / (1.0 + np.exp(-c))


def _upsample_taps(ln: int, s: int) -> list[tuple[int, int, float]]:
    """Per output position p: (left index, right index, right weight) of
    the align_corners=False linear interpolation, edge-clamped."""
    taps = []
    for p in range(ln * s):
        c = (p + 0.5) / s - 0.5
        i0 = int(np.floor(c))
        f = c - i0
        a = min(max(i0, 0), ln - 1)
        b = min(max(i0 + 1, 0), ln - 1)
        taps.append((a, b, float(f)))
    return taps


def _apply_np(op: ConvOp, h: np.ndarray) -> np.ndarray:
    n, ch, ln = h.shape
    if op.kind in ("conv", "convT"):
        out_ch, in_ch, k = op.w.shape
        _, out_len = _out_shape(op, ch, ln)
        out = np.empty((n, out_ch, out_len))
        for o in range(out_ch):
            for p in range(out_len):
                acc = np.full(n, float(op.b[o]))
                for i in range(in_ch):
                    for j in range(k):
                        q = p + j - op.pad if op.kind == "conv" else p + op.pad - j
                        if 0 <= q < ln:
                            # left-to-right, the tree SQL builds from infix
                            acc = acc + float(op.w[o, i, j]) * h[:, i, q]
                out[:, o, p] = acc
        return _round6_np(out)
    if op.kind == "affine":
        out = h * op.scale[None, :, None] + op.shift[None, :, None]
        return _round6_np(out)
    if op.kind == "act":
        if op.name == "relu":
            return np.maximum(h, 0.0)  # exact on snapped values
        if op.name == "tanh":
            return _round6_np(_tanh_np(h))
        return _round6_np(_sigmoid_np(h))
    if op.kind == "pool":
        out_len = ln // op.k
        out = h[:, :, : out_len * op.k].reshape(n, ch, out_len, op.k)
        return out.max(axis=3)  # exact on snapped values
    # upsample
    out = np.empty((n, ch, ln * op.k))
    for p, (a, b, f) in enumerate(_upsample_taps(ln, op.k)):
        if a == b or f == 0.0:
            out[:, :, p] = h[:, :, a]  # exact copy, no arithmetic
        else:
            out[:, :, p] = _round6_np(
                (1.0 - f) * h[:, :, a] + f * h[:, :, b]
            )
    return out


def forward_np(weights: ConvAEWeights, x: np.ndarray) -> np.ndarray:
    """Reconstruction of a (n, seq_len) single-channel batch."""
    h = np.asarray(x, dtype=np.float64)[:, None, :]
    for op in weights.ops:
        h = _apply_np(op, h)
    return h[:, 0, :]


def reconstruction_errors_np(
    weights: ConvAEWeights, x: np.ndarray
) -> np.ndarray:
    """Elementwise Huber(delta=1) reconstruction error, 6-dp snapped —
    get_reconstruction_loss(x, reduction="none") of base.py:60-62."""
    x = np.asarray(x, dtype=np.float64)
    d = x - forward_np(weights, x)
    ad = np.abs(d)
    return _round6_np(np.where(ad <= 1.0, 0.5 * d * d, ad - 0.5))


# ---------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------

def conv_ae_reconstruction_error(
    df: DataFrame,
    weights: ConvAEWeights,
    window_col: str = "window",
    out_col: str = "recon_err",
) -> DataFrame:
    """Append `out_col`: array<double> of per-position Huber errors for
    each window. One vectorized Arrow kernel; weights ride the closure."""
    weights.validate()

    @F.pandas_udf("array<double>")
    def _kernel(wins: pd.Series) -> pd.Series:
        if wins.empty:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(w, dtype=np.float64) for w in wins])
        errs = reconstruction_errors_np(weights, x)
        return pd.Series([[float(v) for v in row] for row in errs])

    return df.withColumn(out_col, _kernel(F.col(window_col)))


def conv_ae_window_scores(
    df: DataFrame,
    weights: ConvAEWeights,
    window_col: str = "window",
) -> DataFrame:
    """`err_mean` / `err_max` per window, 6-dp snapped SQL-ordered mean —
    the same consumer shape as ae.ae_window_scores."""
    out = conv_ae_reconstruction_error(df, weights, window_col, "recon_err")
    L = weights.seq_len
    s = F.element_at("recon_err", 1)
    for k in range(2, L + 1):
        s = s + F.element_at("recon_err", k)
    mean6 = round6(s / F.lit(float(L)))
    return out.withColumn("err_mean", mean6).withColumn(
        "err_max", F.array_max("recon_err")
    )


# ---------------------------------------------------------------------
# SQL replay (oracle generation + Spark-SQL parity tests)
# ---------------------------------------------------------------------

def _sigmoid_sql(a: str) -> str:
    return (
        f"(1.0 / (1.0 + exp(-(CASE WHEN ({a}) > {SIGMOID_CLAMP} "
        f"THEN {SIGMOID_CLAMP} WHEN ({a}) < -{SIGMOID_CLAMP} "
        f"THEN -{SIGMOID_CLAMP} ELSE ({a}) END))))"
    )


def sql_forward_exprs(
    weights: ConvAEWeights, in_cols: Sequence[str], prefix: str = "g"
) -> tuple[list[list[str]], list[str]]:
    """Unrolled per-op SELECT expression lists replaying `forward_np` on
    a (channels x positions) column grid; returns (per-op expr lists,
    final single-channel position column names). Term order matches the
    kernel exactly. Generic SQL — Spark and DuckDB parse identically."""
    weights.validate()
    if weights.in_channels != 1:
        raise ValueError("SQL replay supports single-channel windows")
    grid: list[list[str]] = [list(in_cols)]
    layers: list[list[str]] = []
    for t, op in enumerate(weights.ops):
        ch, ln = len(grid), len(grid[0])
        exprs: list[str] = []
        if op.kind in ("conv", "convT"):
            out_ch, in_ch, k = op.w.shape
            _, out_len = _out_shape(op, ch, ln)
            new = []
            for o in range(out_ch):
                row = []
                for p in range(out_len):
                    terms = [repr(float(op.b[o]))]
                    for i in range(in_ch):
                        for j in range(k):
                            q = (p + j - op.pad if op.kind == "conv"
                                 else p + op.pad - j)
                            if 0 <= q < ln:
                                terms.append(
                                    f"{float(op.w[o, i, j])!r} * {grid[i][q]}"
                                )
                    name = f"{prefix}{t}_{o}_{p}"
                    exprs.append(
                        f"{round6_sql(' + '.join(terms))} AS {name}"
                    )
                    row.append(name)
                new.append(row)
            grid = new
        elif op.kind == "affine":
            new = []
            for c in range(ch):
                row = []
                for p in range(ln):
                    body = (
                        f"{float(op.scale[c])!r} * {grid[c][p]} + "
                        f"{float(op.shift[c])!r}"
                    )
                    name = f"{prefix}{t}_{c}_{p}"
                    exprs.append(f"{round6_sql(body)} AS {name}")
                    row.append(name)
                new.append(row)
            grid = new
        elif op.kind == "act":
            new = []
            for c in range(ch):
                row = []
                for p in range(ln):
                    src = grid[c][p]
                    if op.name == "relu":
                        body = f"greatest({src}, 0.0)"  # exact, no snap
                    elif op.name == "tanh":
                        body = round6_sql(_tanh_sql(src))
                    else:
                        body = round6_sql(_sigmoid_sql(src))
                    name = f"{prefix}{t}_{c}_{p}"
                    exprs.append(f"{body} AS {name}")
                    row.append(name)
                new.append(row)
            grid = new
        elif op.kind == "pool":
            out_len = ln // op.k
            new = []
            for c in range(ch):
                row = []
                for p in range(out_len):
                    srcs = ", ".join(
                        grid[c][p * op.k + d] for d in range(op.k)
                    )
                    name = f"{prefix}{t}_{c}_{p}"
                    exprs.append(f"greatest({srcs}) AS {name}")
                    row.append(name)
                new.append(row)
            grid = new
        else:  # upsample
            taps = _upsample_taps(ln, op.k)
            new = []
            for c in range(ch):
                row = []
                for p, (a, b, f) in enumerate(taps):
                    name = f"{prefix}{t}_{c}_{p}"
                    if a == b or f == 0.0:
                        exprs.append(f"{grid[c][a]} AS {name}")
                    else:
                        body = (
                            f"{float(1.0 - f)!r} * {grid[c][a]} + "
                            f"{float(f)!r} * {grid[c][b]}"
                        )
                        exprs.append(f"{round6_sql(body)} AS {name}")
                    row.append(name)
                new.append(row)
            grid = new
        layers.append(exprs)
    return layers, grid[0]


__all__ = [
    "ConvOp",
    "ConvAEWeights",
    "make_demo_conv_weights",
    "forward_np",
    "reconstruction_errors_np",
    "conv_ae_reconstruction_error",
    "conv_ae_window_scores",
    "sql_forward_exprs",
    "sql_error_exprs",
]
