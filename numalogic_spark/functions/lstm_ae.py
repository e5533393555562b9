"""LSTMAE FORWARD-PASS inference as an Arrow kernel.

The reference's third autoencoder family is LSTMAE
(/root/reference/numalogic/models/autoencoder/variants/lstm.py:89-152):
encoder = nn.LSTM(no_features -> embedding_dim), keep the FINAL hidden
state h_T (lstm.py:47-49); decoder = repeat h_T seq_len times
(lstm.py:83), run a second nn.LSTM(embedding_dim -> embedding_dim),
then a per-timestep nn.Linear(embedding_dim -> no_features)
(lstm.py:80,84-86). SparseLSTMAE (lstm.py:155-210) shares this forward
pass exactly — its sparsity penalty exists only in the training loss —
so one kernel covers both factory names.

TRAINING is out of scope (torch); eval-mode INFERENCE with a frozen
artifact is a fixed-depth recurrence of small dense ops. The torch LSTM
cell (single layer, batch_first) is, per timestep t and hidden unit j:

    i = sigmoid(b_i[j] + Wx_i[j]·x_t + Wh_i[j]·h_{t-1})
    f = sigmoid(b_f[j] + Wx_f[j]·x_t + Wh_f[j]·h_{t-1})
    g = tanh   (b_g[j] + Wx_g[j]·x_t + Wh_g[j]·h_{t-1})
    o = sigmoid(b_o[j] + Wx_o[j]·x_t + Wh_o[j]·h_{t-1})
    c_t[j] = f*c_{t-1}[j] + i*g
    h_t[j] = o * tanh(c_t[j])

with h_{-1} = c_{-1} = 0. torch fuses the four gates into one (4H, F)
matrix in i,f,g,o order and keeps two bias vectors (b_ih + b_hh); this
artifact stores per-gate (wx, wh, b) with b = b_ih + b_hh — identical
arithmetic, clearer replay.

CROSS-ENGINE REPLAY DISCIPLINE (functions/ae.py, which see): every
NAMED intermediate — each gate activation, c_t, tanh(c_t), h_t, each
fc output — is snapped to 6-dp fixed point exactly once at its
definition; dot products accumulate left-to-right in (bias, x-taps,
h-taps) order; tanh/sigmoid use guarded exp rational forms.
`sql_forward_exprs` emits the matching unrolled column grid, one
dependency level per list (gates -> c -> tanh(c) -> h per timestep),
so the DuckDB oracle and the Spark-SQL parity test replay the
recurrence bit-for-bit.

Scale shape: identical to the other AE kernels — KB-sized weights ride
the UDF closure, the recurrence is over the FIXED seq_len (8), fully
vectorized across the Arrow batch, no shuffle beyond whatever built the
windows.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from numalogic_spark.functions.ae import (
    _round6_np,
    _tanh_np,
    _tanh_sql,
    round6_sql,
    sql_error_exprs,
)
from numalogic_spark.functions.conv_ae import _sigmoid_np, _sigmoid_sql
from numalogic_spark.functions.exprs import round6

GATES = ("i", "f", "g", "o")


@dataclass(frozen=True)
class LSTMCell:
    """One fused-bias LSTM layer: per gate name, wx (H, F), wh (H, H),
    b (H,) with b = torch's b_ih + b_hh."""

    wx: dict  # gate -> np.ndarray (H, F)
    wh: dict  # gate -> np.ndarray (H, H)
    b: dict  # gate -> np.ndarray (H,)

    @property
    def hidden(self) -> int:
        return self.b["i"].shape[0]

    @property
    def in_features(self) -> int:
        return self.wx["i"].shape[1]

    def validate(self) -> None:
        h, f = self.hidden, self.in_features
        for g in GATES:
            if self.wx[g].shape != (h, f):
                raise ValueError(f"gate {g}: wx shape {self.wx[g].shape}")
            if self.wh[g].shape != (h, h):
                raise ValueError(f"gate {g}: wh shape {self.wh[g].shape}")
            if self.b[g].shape != (h,):
                raise ValueError(f"gate {g}: b shape {self.b[g].shape}")


@dataclass(frozen=True)
class LSTMAEWeights:
    """A fitted LSTMAE artifact: encoder cell, decoder cell, and the
    per-timestep output projection fc (no_features, H) + fc_b."""

    seq_len: int
    encoder: LSTMCell
    decoder: LSTMCell
    fc_w: np.ndarray  # (no_features, H_dec)
    fc_b: np.ndarray  # (no_features,)

    @property
    def no_features(self) -> int:
        return self.encoder.in_features

    @property
    def embedding_dim(self) -> int:
        return self.encoder.hidden

    def validate(self) -> None:
        self.encoder.validate()
        self.decoder.validate()
        e = self.embedding_dim
        if self.decoder.in_features != e:
            raise ValueError("decoder input must be the encoder embedding")
        if self.fc_w.shape != (self.no_features, self.decoder.hidden):
            raise ValueError(f"fc_w shape {self.fc_w.shape}")
        if self.fc_b.shape != (self.no_features,):
            raise ValueError(f"fc_b shape {self.fc_b.shape}")
        if self.seq_len < 1:
            raise ValueError("seq_len must be >= 1")

    def to_json(self) -> str:
        def cell(c: LSTMCell) -> dict:
            return {
                "wx": {g: c.wx[g].tolist() for g in GATES},
                "wh": {g: c.wh[g].tolist() for g in GATES},
                "b": {g: c.b[g].tolist() for g in GATES},
            }

        return json.dumps(
            {
                "seq_len": self.seq_len,
                "encoder": cell(self.encoder),
                "decoder": cell(self.decoder),
                "fc_w": self.fc_w.tolist(),
                "fc_b": self.fc_b.tolist(),
            }
        )

    @staticmethod
    def from_json(s: str) -> "LSTMAEWeights":
        d = json.loads(s)

        def cell(c: dict) -> LSTMCell:
            return LSTMCell(
                wx={g: np.asarray(c["wx"][g], dtype=np.float64) for g in GATES},
                wh={g: np.asarray(c["wh"][g], dtype=np.float64) for g in GATES},
                b={g: np.asarray(c["b"][g], dtype=np.float64) for g in GATES},
            )

        w = LSTMAEWeights(
            seq_len=int(d["seq_len"]),
            encoder=cell(d["encoder"]),
            decoder=cell(d["decoder"]),
            fc_w=np.asarray(d["fc_w"], dtype=np.float64),
            fc_b=np.asarray(d["fc_b"], dtype=np.float64),
        )
        w.validate()
        return w


def make_demo_lstm_weights(
    seq_len: int = 8,
    no_features: int = 1,
    embedding_dim: int = 3,
    seed: int = 2027,
) -> LSTMAEWeights:
    """Deterministic frozen artifact with the reference's TOPOLOGY
    (encoder LSTM -> repeat -> decoder LSTM -> per-step Linear;
    lstm.py:112-132 with hidden_size = embedding_dim). embedding_dim
    shrunk to 3 to keep the weights-as-literals oracle compact — the
    recurrence structure, not the width, is what the kernel must replay.
    Weights U(-0.5, 0.5) snapped to 4 dp; biases U(-0.1, 0.1)."""
    rng = np.random.RandomState(seed)

    def cell(h: int, f: int) -> LSTMCell:
        return LSTMCell(
            wx={g: np.round(rng.uniform(-0.5, 0.5, (h, f)), 4) for g in GATES},
            wh={g: np.round(rng.uniform(-0.5, 0.5, (h, h)), 4) for g in GATES},
            b={g: np.round(rng.uniform(-0.1, 0.1, h), 4) for g in GATES},
        )

    out = LSTMAEWeights(
        seq_len=seq_len,
        encoder=cell(embedding_dim, no_features),
        decoder=cell(embedding_dim, embedding_dim),
        fc_w=np.round(
            rng.uniform(-0.5, 0.5, (no_features, embedding_dim)), 4
        ),
        fc_b=np.round(rng.uniform(-0.1, 0.1, no_features), 4),
    )
    out.validate()
    return out


# ---------------------------------------------------------------------
# numpy forward pass (kernel body; also the pytest oracle)
# ---------------------------------------------------------------------

def _gate_pre(
    b: float, pairs: list[tuple[float, np.ndarray]], n: int
) -> np.ndarray:
    """b + Σ w·x accumulated left-to-right, starting from the bias —
    exactly the infix tree of the generated SQL."""
    acc = np.full(n, float(b))
    for w, x in pairs:
        acc = acc + float(w) * x
    return acc


def _cell_step(
    cell: LSTMCell,
    x: list[np.ndarray],
    h_prev: list[np.ndarray],
    c_prev: list[np.ndarray],
    n: int,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """One snapped LSTM step over batch arrays; x / h_prev / c_prev are
    per-feature lists of (n,) arrays (h_prev/c_prev empty at t=0)."""
    H = cell.hidden
    h_new, c_new = [], []
    for j in range(H):
        acts = {}
        for g in GATES:
            pairs = [(cell.wx[g][j, i], x[i]) for i in range(len(x))]
            if h_prev:
                pairs += [(cell.wh[g][j, k], h_prev[k]) for k in range(H)]
            pre = _gate_pre(cell.b[g][j], pairs, n)
            acts[g] = _round6_np(
                _tanh_np(pre) if g == "g" else _sigmoid_np(pre)
            )
        if c_prev:
            c = _round6_np(acts["f"] * c_prev[j] + acts["i"] * acts["g"])
        else:
            c = _round6_np(acts["i"] * acts["g"])
        tc = _round6_np(_tanh_np(c))
        h = _round6_np(acts["o"] * tc)
        c_new.append(c)
        h_new.append(h)
    return h_new, c_new


def forward_np(weights: LSTMAEWeights, x: np.ndarray) -> np.ndarray:
    """Reconstruction of a (n, seq_len) single-feature batch."""
    x = np.asarray(x, dtype=np.float64)
    n, L = x.shape
    if L != weights.seq_len:
        raise ValueError(f"window length {L} != seq_len {weights.seq_len}")
    h: list[np.ndarray] = []
    c: list[np.ndarray] = []
    for t in range(L):
        h, c = _cell_step(weights.encoder, [x[:, t]], h, c, n)
    emb = h  # final hidden state = the embedding (lstm.py:47-49)
    h, c = [], []
    outs = []
    for t in range(L):
        h, c = _cell_step(weights.decoder, emb, h, c, n)
        y = _gate_pre(
            weights.fc_b[0],
            [(weights.fc_w[0, k], h[k]) for k in range(weights.decoder.hidden)],
            n,
        )
        outs.append(_round6_np(y))
    return np.stack(outs, axis=1)


def reconstruction_errors_np(
    weights: LSTMAEWeights, x: np.ndarray
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

def lstm_ae_reconstruction_error(
    df: DataFrame,
    weights: LSTMAEWeights,
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


def lstm_ae_window_scores(
    df: DataFrame,
    weights: LSTMAEWeights,
    window_col: str = "window",
) -> DataFrame:
    """`err_mean` / `err_max` per window, 6-dp snapped SQL-ordered mean —
    the same consumer shape as ae.ae_window_scores."""
    out = lstm_ae_reconstruction_error(df, weights, window_col, "recon_err")
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

def _cell_step_sql(
    cell: LSTMCell,
    x_cols: Sequence[str],
    h_prev: Sequence[str],
    c_prev: Sequence[str],
    tag: str,
) -> tuple[list[list[str]], list[str], list[str]]:
    """Expression levels for one LSTM step: gates, then c, then tanh(c),
    then h — four dependency levels (each a separate CTE). Returns
    (levels, h column names, c column names)."""
    H = cell.hidden
    gates_lvl, c_lvl, tc_lvl, h_lvl = [], [], [], []
    h_names, c_names = [], []
    for j in range(H):
        gname = {}
        for g in GATES:
            terms = [repr(float(cell.b[g][j]))]
            terms += [
                f"{float(cell.wx[g][j, i])!r} * {x_cols[i]}"
                for i in range(len(x_cols))
            ]
            if h_prev:
                terms += [
                    f"{float(cell.wh[g][j, k])!r} * {h_prev[k]}"
                    for k in range(H)
                ]
            pre = " + ".join(terms)
            body = _tanh_sql(pre) if g == "g" else _sigmoid_sql(pre)
            name = f"{tag}_{g}{j}"
            gates_lvl.append(f"{round6_sql(body)} AS {name}")
            gname[g] = name
        cn = f"{tag}_c{j}"
        if c_prev:
            c_body = (
                f"{gname['f']} * {c_prev[j]} + {gname['i']} * {gname['g']}"
            )
        else:
            c_body = f"{gname['i']} * {gname['g']}"
        c_lvl.append(f"{round6_sql(c_body)} AS {cn}")
        tn = f"{tag}_tc{j}"
        tc_lvl.append(f"{round6_sql(_tanh_sql(cn))} AS {tn}")
        hn = f"{tag}_h{j}"
        h_body = f"{gname['o']} * {tn}"
        h_lvl.append(f"{round6_sql(h_body)} AS {hn}")
        h_names.append(hn)
        c_names.append(cn)
    return [gates_lvl, c_lvl, tc_lvl, h_lvl], h_names, c_names


def sql_forward_exprs(
    weights: LSTMAEWeights, in_cols: Sequence[str]
) -> tuple[list[list[str]], list[str]]:
    """Unrolled per-level SELECT expression lists replaying `forward_np`;
    returns (levels, reconstruction column names). Each level only
    references columns from strictly earlier levels — thread them
    through chained CTEs. Generic SQL — Spark and DuckDB parse
    identically. Single-feature windows only (the engine's series are
    univariate; multivariate would just widen the x taps)."""
    weights.validate()
    if weights.no_features != 1:
        raise ValueError("SQL replay supports single-feature windows")
    L = weights.seq_len
    levels: list[list[str]] = []
    h: list[str] = []
    c: list[str] = []
    for t in range(L):
        lvls, h, c = _cell_step_sql(
            weights.encoder, [in_cols[t]], h, c, f"en{t}"
        )
        levels += lvls
    emb = h
    h, c = [], []
    recon = []
    for t in range(L):
        lvls, h, c = _cell_step_sql(weights.decoder, emb, h, c, f"de{t}")
        levels += lvls
        terms = [repr(float(weights.fc_b[0]))]
        terms += [
            f"{float(weights.fc_w[0, k])!r} * {h[k]}"
            for k in range(weights.decoder.hidden)
        ]
        rn = f"r{t}"
        levels.append([f"{round6_sql(' + '.join(terms))} AS {rn}"])
        recon.append(rn)
    return levels, recon


__all__ = [
    "LSTMCell",
    "LSTMAEWeights",
    "make_demo_lstm_weights",
    "forward_np",
    "reconstruction_errors_np",
    "lstm_ae_reconstruction_error",
    "lstm_ae_window_scores",
    "sql_forward_exprs",
    "sql_error_exprs",
]
