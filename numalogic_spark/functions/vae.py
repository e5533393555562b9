"""Conv1dVAE MEAN-LATENT inference as an Arrow kernel.

The reference's fifth model family is the variational Conv1dVAE
(/root/reference/numalogic/models/vae/variants/conv.py:139-231):

  encoder = CausalConvBlock(stride=2, dilation=2^i)*   (causal left pad,
            eval BatchNorm, ReLU; tools/layer.py:7-64)
            -> flatten -> Linear -> ReLU -> mu / logvar heads
  forward: z ~ N(mu, diag(exp(logvar)))   via p.rsample()  (conv.py:206)
  decoder = Linear -> ReLU -> unflatten(C, 6)
            -> ConvTranspose1d(k=3, stride=2, pad=1, output_pad=1)
            -> BatchNorm -> ReLU -> Linear(->seq_len) -> ReLU
            -> swapdims -> per-step Linear(n_features)   (conv.py:129-135)

The reference forward SAMPLES the latent even on the predict path, so a
bit-replayable twin of the stochastic model cannot exist by design (see
SURVEY §torch-exclusion). This module implements the standard
DETERMINISTIC eval variant instead: **z = mu**, the distribution's mean
— every other stage is frozen affine/ReLU arithmetic, so the mean-latent
score is exactly replayable under the same cross-engine discipline as
the four AE kernels (functions/ae.py for the rationale):

  * every dot product accumulates LEFT-TO-RIGHT in flatten/tap order;
  * every arithmetic op output snaps to 6-dp fixed point;
  * ReLU is exact on snapped values;
  * eval BatchNorm is the folded per-channel (scale, shift) affine.

Per-element error is SQUARED error — BaseVAE defaults to
loss_fn="mse" (base.py:33-40), unlike the AE families' Huber.

Scale shape: identical to the other kernels — KB-sized weights ride the
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

from numalogic_spark.functions.ae import _round6_np, round6_sql
from numalogic_spark.functions.exprs import round6


@dataclass(frozen=True)
class VOp:
    """One eval-mode stage of the mean-latent Conv1dVAE. kind:
    cconv  — causal Conv1d: w (out_ch, in_ch, k), b (out_ch,),
             stride s, dilation dil, left pad (k-1)*dil (layer.py:31)
    convt  — ConvTranspose1d: w (out_ch, in_ch, k), b (out_ch,),
             stride s, pad, output_padding outpad
    dense  — Linear over the channel-major flattened grid:
             w (rows*cols, in_ch*in_len), b (rows*cols,), out shape
             (rows, cols) — unflatten is the out shape, flatten the in
    affine — per-channel scale/shift (folded eval BatchNorm, and the
             1-feature td_linear which is the same scalar map)
    relu   — exact on snapped values
    """

    kind: str
    w: np.ndarray | None = None
    b: np.ndarray | None = None
    s: int = 1
    dil: int = 1
    pad: int = 0
    outpad: int = 0
    rows: int = 1
    cols: int = 1
    scale: np.ndarray | None = None
    shift: np.ndarray | None = None


def _out_shape(op: VOp, ch: int, ln: int) -> tuple[int, int]:
    if op.kind == "cconv":
        out_ch, in_ch, k = op.w.shape
        if in_ch != ch:
            raise ValueError(f"cconv: in_ch {in_ch} != {ch}")
        lpad = (k - 1) * op.dil
        out_len = (ln + lpad - op.dil * (k - 1) - 1) // op.s + 1
        if out_len < 1:
            raise ValueError("cconv: output length < 1")
        return out_ch, out_len
    if op.kind == "convt":
        out_ch, in_ch, k = op.w.shape
        if in_ch != ch:
            raise ValueError(f"convt: in_ch {in_ch} != {ch}")
        out_len = (ln - 1) * op.s - 2 * op.pad + k + op.outpad
        if out_len < 1:
            raise ValueError("convt: output length < 1")
        return out_ch, out_len
    if op.kind == "dense":
        n_out, n_in = op.w.shape
        if n_in != ch * ln:
            raise ValueError(f"dense: in dim {n_in} != {ch}*{ln}")
        if n_out != op.rows * op.cols or op.b.shape != (n_out,):
            raise ValueError("dense: out shape / bias mismatch")
        return op.rows, op.cols
    if op.kind == "affine":
        if op.scale.shape != (ch,) or op.shift.shape != (ch,):
            raise ValueError("affine: scale/shift must be per-channel")
        return ch, ln
    if op.kind == "relu":
        return ch, ln
    raise ValueError(f"unknown op kind {op.kind!r}")


@dataclass(frozen=True)
class VAEWeights:
    """A fitted mean-latent Conv1dVAE artifact: the eval op list
    threaded from (1, seq_len) back to (1, seq_len)."""

    seq_len: int
    ops: tuple[VOp, ...] = field(default_factory=tuple)

    def validate(self) -> None:
        ch, ln = 1, self.seq_len
        for i, op in enumerate(self.ops):
            try:
                ch, ln = _out_shape(op, ch, ln)
            except ValueError as ex:
                raise ValueError(f"op {i}: {ex}") from ex
        if (ch, ln) != (1, self.seq_len):
            raise ValueError(
                f"final shape ({ch},{ln}) != input (1,{self.seq_len})"
            )

    def to_json(self) -> str:
        def enc(op: VOp) -> dict:
            d = {"kind": op.kind}
            if op.kind in ("cconv", "convt"):
                d |= {"w": op.w.tolist(), "b": op.b.tolist(), "s": op.s,
                      "dil": op.dil, "pad": op.pad, "outpad": op.outpad}
            elif op.kind == "dense":
                d |= {"w": op.w.tolist(), "b": op.b.tolist(),
                      "rows": op.rows, "cols": op.cols}
            elif op.kind == "affine":
                d |= {"scale": op.scale.tolist(), "shift": op.shift.tolist()}
            return d

        return json.dumps(
            {"seq_len": self.seq_len, "ops": [enc(o) for o in self.ops]}
        )

    @staticmethod
    def from_json(s: str) -> "VAEWeights":
        d = json.loads(s)

        def dec(o: dict) -> VOp:
            kind = o["kind"]
            if kind in ("cconv", "convt"):
                return VOp(
                    kind=kind,
                    w=np.asarray(o["w"], dtype=np.float64),
                    b=np.asarray(o["b"], dtype=np.float64),
                    s=int(o["s"]), dil=int(o["dil"]),
                    pad=int(o["pad"]), outpad=int(o["outpad"]),
                )
            if kind == "dense":
                return VOp(
                    kind=kind,
                    w=np.asarray(o["w"], dtype=np.float64),
                    b=np.asarray(o["b"], dtype=np.float64),
                    rows=int(o["rows"]), cols=int(o["cols"]),
                )
            if kind == "affine":
                return VOp(
                    kind=kind,
                    scale=np.asarray(o["scale"], dtype=np.float64),
                    shift=np.asarray(o["shift"], dtype=np.float64),
                )
            return VOp(kind=kind)

        w = VAEWeights(
            seq_len=int(d["seq_len"]),
            ops=tuple(dec(o) for o in d["ops"]),
        )
        w.validate()
        return w


def make_demo_vae_weights(
    seq_len: int = 8,
    conv_channels: Sequence[int] = (4,),
    latent_dim: int = 3,
    kernel_size: int = 3,
    stride: int = 2,
    seed: int = 2026,
) -> VAEWeights:
    """Deterministic frozen artifact with the reference's default
    TOPOLOGY (conv.py:165-172 defaults, conv channels shrunk 16 -> 4 to
    keep the weights-as-literals oracle compact — the structure, not
    the width, is what the kernel must replay). Weights U(-0.5,0.5)
    snapped to 4 dp; folded-BN scale U(0.5,1.5), shift U(-0.1,0.1)."""
    rng = np.random.RandomState(seed)

    def w4(*shape: int) -> np.ndarray:
        return np.round(rng.uniform(-0.5, 0.5, size=shape), 4)

    def b4(n: int) -> np.ndarray:
        return np.round(rng.uniform(-0.1, 0.1, size=n), 4)

    def bn(ch: int) -> VOp:
        return VOp(
            kind="affine",
            scale=np.round(rng.uniform(0.5, 1.5, size=ch), 4),
            shift=np.round(rng.uniform(-0.1, 0.1, size=ch), 4),
        )

    ops: list[VOp] = []
    # encoder: CausalConvBlock(stride=2, dilation=2^i)* (conv.py:40-74)
    ch, ln = 1, seq_len
    for i, out_ch in enumerate(conv_channels):
        dil = 2 ** i if i else 1
        op = VOp(kind="cconv", w=w4(out_ch, ch, kernel_size),
                 b=b4(out_ch), s=stride, dil=dil)
        ops += [op, bn(out_ch), VOp(kind="relu")]
        ch, ln = _out_shape(op, ch, ln)
    # flatten -> fc(latent) -> relu -> mu head; z = mu (conv.py:91-96)
    ops += [
        VOp(kind="dense", w=w4(latent_dim, ch * ln), b=b4(latent_dim),
            rows=1, cols=latent_dim),
        VOp(kind="relu"),
        VOp(kind="dense", w=w4(latent_dim, latent_dim), b=b4(latent_dim),
            rows=1, cols=latent_dim),
    ]
    # decoder: fc -> relu -> unflatten(C, 6) (conv.py:112-116)
    c0 = conv_channels[0]
    ops += [
        VOp(kind="dense", w=w4(c0 * 6, latent_dim), b=b4(c0 * 6),
            rows=c0, cols=6),
        VOp(kind="relu"),
    ]
    # convT(k=3, s=2, pad=1, outpad=1) -> BN -> relu (conv.py:117-132)
    ops += [
        VOp(kind="convt", w=w4(1, c0, kernel_size), b=b4(1),
            s=stride, pad=1, outpad=1),
        bn(1),
        VOp(kind="relu"),
    ]
    # fc_out(-> seq_len) -> relu -> td_linear(1->1) (conv.py:126,133-135)
    _, cur = 1, (6 - 1) * stride - 2 + kernel_size + 1
    ops += [
        VOp(kind="dense", w=w4(seq_len, cur), b=b4(seq_len),
            rows=1, cols=seq_len),
        VOp(kind="relu"),
        VOp(kind="affine", scale=np.round(rng.uniform(0.5, 1.5, 1), 4),
            shift=np.round(rng.uniform(-0.1, 0.1, 1), 4)),
    ]
    out = VAEWeights(seq_len=seq_len, ops=tuple(ops))
    out.validate()
    return out


# ---------------------------------------------------------------------
# numpy forward pass (kernel body; also the pytest oracle)
# ---------------------------------------------------------------------

def _convt_taps(op: VOp, ln: int) -> list[tuple[int, int, int, int]]:
    """(out position p, in_ch i, tap j, in position t) contributions of
    the transposed conv, in (i, j) accumulation order per p."""
    out_ch, in_ch, k = op.w.shape
    _, out_len = _out_shape(op, in_ch, ln)
    taps = []
    for p in range(out_len):
        for i in range(in_ch):
            for j in range(k):
                num = p + op.pad - j
                if num % op.s == 0:
                    t = num // op.s
                    if 0 <= t < ln:
                        taps.append((p, i, j, t))
    return taps


def _apply_np(op: VOp, h: np.ndarray) -> np.ndarray:
    n, ch, ln = h.shape
    if op.kind == "cconv":
        out_ch, in_ch, k = op.w.shape
        _, out_len = _out_shape(op, ch, ln)
        lpad = (k - 1) * op.dil
        out = np.empty((n, out_ch, out_len))
        for o in range(out_ch):
            for p in range(out_len):
                acc = np.full(n, float(op.b[o]))
                for i in range(in_ch):
                    for j in range(k):
                        q = op.s * p + j * op.dil - lpad
                        if 0 <= q < ln:  # left zero-pad positions drop
                            acc = acc + float(op.w[o, i, j]) * h[:, i, q]
                out[:, o, p] = acc
        return _round6_np(out)
    if op.kind == "convt":
        out_ch, in_ch, k = op.w.shape
        _, out_len = _out_shape(op, ch, ln)
        out = np.empty((n, out_ch, out_len))
        taps = _convt_taps(op, ln)
        for o in range(out_ch):
            accs = [np.full(n, float(op.b[o])) for _ in range(out_len)]
            for p, i, j, t in taps:
                accs[p] = accs[p] + float(op.w[o, i, j]) * h[:, i, t]
            for p in range(out_len):
                out[:, o, p] = accs[p]
        return _round6_np(out)
    if op.kind == "dense":
        flat = h.reshape(n, ch * ln)  # channel-major, torch Flatten(1)
        n_out = op.rows * op.cols
        out = np.empty((n, n_out))
        for r in range(n_out):
            acc = np.full(n, float(op.b[r]))
            for q in range(ch * ln):
                acc = acc + float(op.w[r, q]) * flat[:, q]
            out[:, r] = acc
        return _round6_np(out.reshape(n, op.rows, op.cols))
    if op.kind == "affine":
        return _round6_np(
            h * op.scale[None, :, None] + op.shift[None, :, None]
        )
    return np.maximum(h, 0.0)  # relu — exact on snapped values


def forward_np(weights: VAEWeights, x: np.ndarray) -> np.ndarray:
    """Mean-latent reconstruction of a (n, seq_len) batch."""
    h = np.asarray(x, dtype=np.float64)[:, None, :]
    for op in weights.ops:
        h = _apply_np(op, h)
    return h[:, 0, :]


def reconstruction_errors_np(
    weights: VAEWeights, x: np.ndarray
) -> np.ndarray:
    """Elementwise SQUARED reconstruction error, 6-dp snapped —
    get_reconstruction_loss(x, reduction="none") with the BaseVAE
    default criterion mse (base.py:33-40, 50-52)."""
    x = np.asarray(x, dtype=np.float64)
    d = x - forward_np(weights, x)
    return _round6_np(d * d)


# ---------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------

def vae_reconstruction_error(
    df: DataFrame,
    weights: VAEWeights,
    window_col: str = "window",
    out_col: str = "recon_err",
) -> DataFrame:
    """Append `out_col`: array<double> of per-position squared errors
    for each window. One vectorized Arrow kernel; weights ride the
    closure."""
    weights.validate()

    @F.pandas_udf("array<double>")
    def _kernel(wins: pd.Series) -> pd.Series:
        if wins.empty:
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(w, dtype=np.float64) for w in wins])
        errs = reconstruction_errors_np(weights, x)
        return pd.Series([[float(v) for v in row] for row in errs])

    return df.withColumn(out_col, _kernel(F.col(window_col)))


def vae_window_scores(
    df: DataFrame,
    weights: VAEWeights,
    window_col: str = "window",
) -> DataFrame:
    """`err_mean` / `err_max` per window, 6-dp snapped SQL-ordered mean
    — the same consumer shape as ae.ae_window_scores."""
    out = vae_reconstruction_error(df, weights, window_col, "recon_err")
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

def sql_forward_exprs(
    weights: VAEWeights, in_cols: Sequence[str], prefix: str = "v"
) -> tuple[list[list[str]], list[str]]:
    """Unrolled per-op SELECT expression lists replaying `forward_np` on
    a (channels x positions) column grid; returns (per-op expr lists,
    final single-channel position column names). Term order matches the
    kernel exactly. Generic SQL — Spark and DuckDB parse identically."""
    weights.validate()
    grid: list[list[str]] = [list(in_cols)]
    layers: list[list[str]] = []
    for t, op in enumerate(weights.ops):
        ch, ln = len(grid), len(grid[0])
        exprs: list[str] = []
        if op.kind == "cconv":
            out_ch, in_ch, k = op.w.shape
            _, out_len = _out_shape(op, ch, ln)
            lpad = (k - 1) * op.dil
            new = []
            for o in range(out_ch):
                row = []
                for p in range(out_len):
                    terms = [repr(float(op.b[o]))]
                    for i in range(in_ch):
                        for j in range(k):
                            q = op.s * p + j * op.dil - lpad
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
        elif op.kind == "convt":
            out_ch, in_ch, k = op.w.shape
            _, out_len = _out_shape(op, ch, ln)
            taps = _convt_taps(op, ln)
            new = []
            for o in range(out_ch):
                terms_by_p: list[list[str]] = [
                    [repr(float(op.b[o]))] for _ in range(out_len)
                ]
                for p, i, j, tt in taps:
                    terms_by_p[p].append(
                        f"{float(op.w[o, i, j])!r} * {grid[i][tt]}"
                    )
                row = []
                for p in range(out_len):
                    name = f"{prefix}{t}_{o}_{p}"
                    exprs.append(
                        f"{round6_sql(' + '.join(terms_by_p[p]))} AS {name}"
                    )
                    row.append(name)
                new.append(row)
            grid = new
        elif op.kind == "dense":
            flat = [grid[c][p] for c in range(ch) for p in range(ln)]
            new = []
            for r in range(op.rows):
                row = []
                for cpos in range(op.cols):
                    ridx = r * op.cols + cpos
                    terms = [repr(float(op.b[ridx]))]
                    for q, src in enumerate(flat):
                        terms.append(f"{float(op.w[ridx, q])!r} * {src}")
                    name = f"{prefix}{t}_{r}_{cpos}"
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
        else:  # relu
            new = []
            for c in range(ch):
                row = []
                for p in range(ln):
                    name = f"{prefix}{t}_{c}_{p}"
                    exprs.append(f"greatest({grid[c][p]}, 0.0) AS {name}")
                    row.append(name)
                new.append(row)
            grid = new
        layers.append(exprs)
    return layers, grid[0]


def sql_error_exprs(
    weights: VAEWeights,
    x_cols: Sequence[str],
    recon_cols: Sequence[str],
) -> list[str]:
    """`e{k} = round6((x_k − r_k)^2)` expressions matching
    `reconstruction_errors_np` (mse, the BaseVAE default)."""
    out = []
    for k, (xc, rc) in enumerate(zip(x_cols, recon_cols)):
        d = f"({xc} - {rc})"
        out.append(f"{round6_sql(f'{d} * {d}')} AS e{k}")
    return out


__all__ = [
    "VOp",
    "VAEWeights",
    "make_demo_vae_weights",
    "forward_np",
    "reconstruction_errors_np",
    "vae_reconstruction_error",
    "vae_window_scores",
    "sql_forward_exprs",
    "sql_error_exprs",
]
