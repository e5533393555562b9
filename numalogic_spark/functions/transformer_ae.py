"""TransformerAE FORWARD-PASS inference as an Arrow kernel.

The reference's fourth autoencoder family is TransformerAE
(/root/reference/numalogic/models/autoencoder/variants/transformer.py:289-361):
encoder = N stacked self-attention + feed-forward residual blocks,
decoder = N blocks of (self-attention, cross-attention over the encoder
memory, feed-forward), each residual wrapped in LayerNorm
(transformer.py:73-90), positional encoding added at both entries
(transformer.py:36-53), final per-window Linear + softmax
(transformer.py:280-286). SparseTransformerAE (transformer.py:363-408)
shares this forward pass exactly — its sparsity penalty is train-time
only — so one kernel covers both factory names.

THE SINGLE-FEATURE DEGENERACY (what makes this SQL-replayable): the
model reshapes a window to (batch, n_features, seq_len) and attends
over the n_features axis with dim_model = seq_len
(transformer.py:345-349). The engine's windows are univariate
(n_features = 1, the same shape every other AE query scores), so each
attention softmax runs over exactly ONE key: softmax of a singleton is
identically 1.0 REGARDLESS of the query/key projections
(transformer.py:19-33 — `temp` is (B, 1, 1)), and the attention output
collapses EXACTLY (not approximately) to the value projection:

    head_h(x)  = Wv_h · x + bv_h          # query/key weights cancel
    attn(x)    = Wo · concat_h(head_h)  + bo
    block(x)   = LayerNorm(x + attn(x))   # eval: Dropout = identity
    ff(x)      = W2 · relu(W1 · x + b1) + b2
    layer(x)   = LayerNorm(block(x) + ff(block(x)))

Decoder cross-attention likewise collapses to value projections of the
encoder memory. The artifact therefore stores per-head VALUE weights
only; query/key matrices are unidentifiable from (and irrelevant to)
single-feature inference. Final output: softmax over the seq_len
positions of a Linear (transformer.py:286) — the reference's scoring
then takes elementwise Huber error vs the input window
(base.py:60-62), exactly as the other AE families.

Positional encoding at n_features = 1: pos = [0], so phase = 0 for
every position and PE_j = sin(0) = 0 for even j, cos(0) = 1 for odd j
(transformer.py:49-53) — a constant ±alternating row.

CROSS-ENGINE REPLAY DISCIPLINE (functions/ae.py, which see): every
NAMED intermediate — each value projection, attention output, residual
sum, LayerNorm output, feed-forward hidden/output, logit, softmax
term — is snapped to 6-dp fixed point exactly once at its definition;
dot products and the LayerNorm mean/variance folds accumulate
left-to-right; LayerNorm keeps torch's biased variance and eps = 1e-5;
softmax subtracts the exact max (order-insensitive) before exp.
`sql_forward_exprs` emits the matching unrolled column grid, one
dependency level per list, so the DuckDB oracle and the Spark-SQL
parity test replay the stack bit-for-bit.

Scale shape: identical to the other AE kernels — KB-sized weights ride
the UDF closure, the stack is a fixed graph of small dense ops fully
vectorized across the Arrow batch, no shuffle beyond whatever built
the windows.
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
    _relu_sql,
    _round6_np,
    round6_sql,
    sql_error_exprs,
)
from numalogic_spark.functions.exprs import round6

LN_EPS = 1e-5


@dataclass(frozen=True)
class AttnBlock:
    """One collapsed (single-feature) multi-head attention: per-head
    value projections + the output projection."""

    wv: tuple[np.ndarray, ...]  # per head (dim_k, L)
    bv: tuple[np.ndarray, ...]  # per head (dim_k,)
    wo: np.ndarray  # (L, heads * dim_k)
    bo: np.ndarray  # (L,)

    def validate(self, L: int) -> None:
        if not self.wv or len(self.wv) != len(self.bv):
            raise ValueError("attention heads malformed")
        dim_k = self.wv[0].shape[0]
        for w, b in zip(self.wv, self.bv):
            if w.shape != (dim_k, L) or b.shape != (dim_k,):
                raise ValueError(f"head shapes {w.shape}/{b.shape}")
        if self.wo.shape != (L, len(self.wv) * dim_k):
            raise ValueError(f"wo shape {self.wo.shape}")
        if self.bo.shape != (L,):
            raise ValueError(f"bo shape {self.bo.shape}")


@dataclass(frozen=True)
class LayerNormP:
    g: np.ndarray  # (L,)
    b: np.ndarray  # (L,)

    def validate(self, L: int) -> None:
        if self.g.shape != (L,) or self.b.shape != (L,):
            raise ValueError(f"layernorm shapes {self.g.shape}/{self.b.shape}")


@dataclass(frozen=True)
class FeedForward:
    w1: np.ndarray  # (dim_ff, L)
    b1: np.ndarray  # (dim_ff,)
    w2: np.ndarray  # (L, dim_ff)
    b2: np.ndarray  # (L,)

    def validate(self, L: int) -> None:
        ff = self.w1.shape[0]
        if self.w1.shape != (ff, L) or self.b1.shape != (ff,):
            raise ValueError("feed-forward first layer shapes")
        if self.w2.shape != (L, ff) or self.b2.shape != (L,):
            raise ValueError("feed-forward second layer shapes")


@dataclass(frozen=True)
class EncoderLayerW:
    attn: AttnBlock
    ln1: LayerNormP
    ff: FeedForward
    ln2: LayerNormP

    def validate(self, L: int) -> None:
        self.attn.validate(L)
        self.ln1.validate(L)
        self.ff.validate(L)
        self.ln2.validate(L)


@dataclass(frozen=True)
class DecoderLayerW:
    self_attn: AttnBlock
    ln1: LayerNormP
    cross_attn: AttnBlock
    ln2: LayerNormP
    ff: FeedForward
    ln3: LayerNormP

    def validate(self, L: int) -> None:
        self.self_attn.validate(L)
        self.ln1.validate(L)
        self.cross_attn.validate(L)
        self.ln2.validate(L)
        self.ff.validate(L)
        self.ln3.validate(L)


@dataclass(frozen=True)
class TransformerAEWeights:
    """A fitted TransformerAE artifact (single-feature collapsed form):
    encoder/decoder layer stacks + the final Linear feeding softmax."""

    seq_len: int
    encoder: tuple[EncoderLayerW, ...]
    decoder: tuple[DecoderLayerW, ...]
    wf: np.ndarray  # (L, L)
    bf: np.ndarray  # (L,)

    def validate(self) -> None:
        L = self.seq_len
        if not self.encoder or not self.decoder:
            raise ValueError("need at least one encoder and decoder layer")
        for ly in self.encoder:
            ly.validate(L)
        for ly in self.decoder:
            ly.validate(L)
        if self.wf.shape != (L, L) or self.bf.shape != (L,):
            raise ValueError(f"final linear shapes {self.wf.shape}/{self.bf.shape}")

    # -- registry-style JSON artifact (the BPE-vocab discipline) --------
    def to_json(self) -> str:
        def attn(a: AttnBlock) -> dict:
            return {
                "wv": [w.tolist() for w in a.wv],
                "bv": [b.tolist() for b in a.bv],
                "wo": a.wo.tolist(),
                "bo": a.bo.tolist(),
            }

        def ln(n: LayerNormP) -> dict:
            return {"g": n.g.tolist(), "b": n.b.tolist()}

        def ff(f: FeedForward) -> dict:
            return {
                "w1": f.w1.tolist(), "b1": f.b1.tolist(),
                "w2": f.w2.tolist(), "b2": f.b2.tolist(),
            }

        return json.dumps(
            {
                "seq_len": self.seq_len,
                "encoder": [
                    {"attn": attn(e.attn), "ln1": ln(e.ln1),
                     "ff": ff(e.ff), "ln2": ln(e.ln2)}
                    for e in self.encoder
                ],
                "decoder": [
                    {"self_attn": attn(d.self_attn), "ln1": ln(d.ln1),
                     "cross_attn": attn(d.cross_attn), "ln2": ln(d.ln2),
                     "ff": ff(d.ff), "ln3": ln(d.ln3)}
                    for d in self.decoder
                ],
                "wf": self.wf.tolist(),
                "bf": self.bf.tolist(),
            }
        )

    @staticmethod
    def from_json(s: str) -> "TransformerAEWeights":
        d = json.loads(s)

        def arr(x) -> np.ndarray:
            return np.asarray(x, dtype=np.float64)

        def attn(a: dict) -> AttnBlock:
            return AttnBlock(
                wv=tuple(arr(w) for w in a["wv"]),
                bv=tuple(arr(b) for b in a["bv"]),
                wo=arr(a["wo"]),
                bo=arr(a["bo"]),
            )

        def ln(n: dict) -> LayerNormP:
            return LayerNormP(g=arr(n["g"]), b=arr(n["b"]))

        def ff(f: dict) -> FeedForward:
            return FeedForward(
                w1=arr(f["w1"]), b1=arr(f["b1"]),
                w2=arr(f["w2"]), b2=arr(f["b2"]),
            )

        w = TransformerAEWeights(
            seq_len=int(d["seq_len"]),
            encoder=tuple(
                EncoderLayerW(attn=attn(e["attn"]), ln1=ln(e["ln1"]),
                              ff=ff(e["ff"]), ln2=ln(e["ln2"]))
                for e in d["encoder"]
            ),
            decoder=tuple(
                DecoderLayerW(self_attn=attn(x["self_attn"]), ln1=ln(x["ln1"]),
                              cross_attn=attn(x["cross_attn"]), ln2=ln(x["ln2"]),
                              ff=ff(x["ff"]), ln3=ln(x["ln3"]))
                for x in d["decoder"]
            ),
            wf=arr(d["wf"]),
            bf=arr(d["bf"]),
        )
        w.validate()
        return w


def make_demo_transformer_weights(
    seq_len: int = 8,
    num_heads: int = 2,
    dim_ff: int = 16,
    num_encoder_layers: int = 2,
    num_decoder_layers: int = 2,
    seed: int = 3105,
) -> TransformerAEWeights:
    """Deterministic frozen demo artifact, downsized from the reference
    defaults (3/3 layers, 6 heads, dim_ff 2048 — transformer.py:306-318)
    the same way the conv/lstm demos are: the structure (multi-layer,
    multi-head, residual/norm threading) is fully exercised, the
    literal-budget of the unrolled oracle stays sane. dim_k follows the
    reference's max(dim_model // num_heads, 1) (transformer.py:161).
    Weights U(−0.5, 0.5) @ 4 dp; LayerNorm gains near 1, shifts near 0
    (the post-training shape); the seed pins the artifact."""
    rng = np.random.RandomState(seed)
    L = seq_len
    dim_k = max(L // num_heads, 1)

    def u(*shape: int) -> np.ndarray:
        return np.round(rng.uniform(-0.5, 0.5, size=shape), 4)

    def attn() -> AttnBlock:
        return AttnBlock(
            wv=tuple(u(dim_k, L) for _ in range(num_heads)),
            bv=tuple(u(dim_k) for _ in range(num_heads)),
            wo=u(L, num_heads * dim_k),
            bo=u(L),
        )

    def ln() -> LayerNormP:
        return LayerNormP(
            g=np.round(rng.uniform(0.8, 1.2, size=L), 4),
            b=np.round(rng.uniform(-0.1, 0.1, size=L), 4),
        )

    def ff() -> FeedForward:
        return FeedForward(w1=u(dim_ff, L), b1=u(dim_ff), w2=u(L, dim_ff), b2=u(L))

    enc = tuple(
        EncoderLayerW(attn=attn(), ln1=ln(), ff=ff(), ln2=ln())
        for _ in range(num_encoder_layers)
    )
    dec = tuple(
        DecoderLayerW(self_attn=attn(), ln1=ln(), cross_attn=attn(),
                      ln2=ln(), ff=ff(), ln3=ln())
        for _ in range(num_decoder_layers)
    )
    out = TransformerAEWeights(
        seq_len=L, encoder=enc, decoder=dec, wf=u(L, L), bf=u(L)
    )
    out.validate()
    return out


def positional_encoding(seq_len: int) -> np.ndarray:
    """The n_features = 1 PE row: phase = 0 everywhere, so
    sin(0)/cos(0) alternate — [0, 1, 0, 1, …] (transformer.py:49-53)."""
    return np.where(np.arange(seq_len) % 2 == 0, 0.0, 1.0)


# ---------------------------------------------------------------------
# numpy forward pass (the kernel body; also the pytest oracle)
# ---------------------------------------------------------------------

def _affine_lr(w: np.ndarray, b: np.ndarray, h: np.ndarray) -> np.ndarray:
    """(n, in) → (n, out) with left-to-right accumulation per output
    unit — the tree a SQL engine builds from the same infix text."""
    cols = []
    for j in range(w.shape[0]):
        acc = np.full(h.shape[0], float(b[j]))
        for i in range(w.shape[1]):
            acc = acc + float(w[j, i]) * h[:, i]
        cols.append(acc)
    return np.stack(cols, axis=1)


def _attn_np(block: AttnBlock, src: np.ndarray) -> np.ndarray:
    """Collapsed single-feature attention: concat of snapped per-head
    value projections → snapped output projection."""
    heads = [
        _round6_np(_affine_lr(w, b, src)) for w, b in zip(block.wv, block.bv)
    ]
    v = np.concatenate(heads, axis=1)
    return _round6_np(_affine_lr(block.wo, block.bo, v))


def _layernorm_np(p: LayerNormP, r: np.ndarray) -> np.ndarray:
    """torch LayerNorm over the seq_len axis: biased variance,
    eps = 1e-5, left-to-right mean/variance folds; output snapped."""
    L = r.shape[1]
    m = r[:, 0].copy()
    for i in range(1, L):
        m = m + r[:, i]
    m = m / float(L)
    v = (r[:, 0] - m) * (r[:, 0] - m)
    for i in range(1, L):
        v = v + (r[:, i] - m) * (r[:, i] - m)
    v = v / float(L)
    sd = np.sqrt(v + LN_EPS)
    out = ((r - m[:, None]) / sd[:, None]) * p.g[None, :] + p.b[None, :]
    return _round6_np(out)


def _ff_np(f: FeedForward, h: np.ndarray) -> np.ndarray:
    hid = _round6_np(np.maximum(_affine_lr(f.w1, f.b1, h), 0.0))
    return _round6_np(_affine_lr(f.w2, f.b2, hid))


def forward_np(weights: TransformerAEWeights, x: np.ndarray) -> np.ndarray:
    """Reconstruction of an (n, seq_len) batch — returns the (n, seq_len)
    softmax output of the decoder (transformer.py:286,345-349)."""
    x = np.asarray(x, dtype=np.float64)
    pe = positional_encoding(weights.seq_len)
    u = _round6_np(x + pe[None, :])
    for ly in weights.encoder:
        r1 = _round6_np(u + _attn_np(ly.attn, u))
        n1 = _layernorm_np(ly.ln1, r1)
        r2 = _round6_np(n1 + _ff_np(ly.ff, n1))
        u = _layernorm_np(ly.ln2, r2)
    mem = u
    t = _round6_np(x + pe[None, :])
    for ly in weights.decoder:
        r1 = _round6_np(t + _attn_np(ly.self_attn, t))
        n1 = _layernorm_np(ly.ln1, r1)
        r2 = _round6_np(n1 + _attn_np(ly.cross_attn, mem))
        n2 = _layernorm_np(ly.ln2, r2)
        r3 = _round6_np(n2 + _ff_np(ly.ff, n2))
        t = _layernorm_np(ly.ln3, r3)
    logits = _round6_np(_affine_lr(weights.wf, weights.bf, t))
    mx = logits[:, 0].copy()
    for i in range(1, weights.seq_len):
        mx = np.maximum(mx, logits[:, i])
    s = _round6_np(np.exp(logits - mx[:, None]))
    tot = s[:, 0].copy()
    for i in range(1, weights.seq_len):
        tot = tot + s[:, i]
    return _round6_np(s / tot[:, None])


def reconstruction_errors_np(
    weights: TransformerAEWeights, x: np.ndarray
) -> np.ndarray:
    """Elementwise Huber(delta=1) error vs the input window, 6-dp
    snapped — `criterion(batch, recon, reduction="none")` of
    transformer.py:357-361 / base.py:60-62."""
    x = np.asarray(x, dtype=np.float64)
    d = x - forward_np(weights, x)
    ad = np.abs(d)
    err = np.where(ad <= 1.0, 0.5 * d * d, ad - 0.5)
    return _round6_np(err)


# ---------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------

def transformer_ae_reconstruction_error(
    df: DataFrame,
    weights: TransformerAEWeights,
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


def transformer_ae_window_scores(
    df: DataFrame,
    weights: TransformerAEWeights,
    window_col: str = "window",
) -> DataFrame:
    """`err_mean` / `err_max` per window, 6-dp snapped SQL-ordered mean —
    the same consumer shape as ae.ae_window_scores."""
    out = transformer_ae_reconstruction_error(df, weights, window_col, "recon_err")
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

def _affine_sql(w: np.ndarray, b: np.ndarray, cols: Sequence[str]) -> list[str]:
    out = []
    for j in range(w.shape[0]):
        terms = [repr(float(b[j]))]
        terms += [f"{float(w[j, i])!r} * {cols[i]}" for i in range(w.shape[1])]
        out.append(" + ".join(terms))
    return out


def _attn_sql(
    block: AttnBlock, src: Sequence[str], pfx: str
) -> tuple[list[list[str]], list[str]]:
    vcols: list[str] = []
    vexprs: list[str] = []
    for h, (w, b) in enumerate(zip(block.wv, block.bv)):
        for k, body in enumerate(_affine_sql(w, b, src)):
            name = f"{pfx}v{h}_{k}"
            vexprs.append(f"{round6_sql(body)} AS {name}")
            vcols.append(name)
    aexprs = []
    acols = []
    for j, body in enumerate(_affine_sql(block.wo, block.bo, vcols)):
        name = f"{pfx}a{j}"
        aexprs.append(f"{round6_sql(body)} AS {name}")
        acols.append(name)
    return [vexprs, aexprs], acols


def _residual_norm_sql(
    p: LayerNormP, base: Sequence[str], add: Sequence[str], pfx: str
) -> tuple[list[list[str]], list[str]]:
    """r = round6(base + add); n = round6(LN(r)) — mean/variance as their
    own (unsnapped) columns, mirroring _layernorm_np's fold order."""
    L = len(base)
    rexprs, rcols = [], []
    for j in range(L):
        name = f"{pfx}r{j}"
        rexprs.append(f"{round6_sql(f'{base[j]} + {add[j]}')} AS {name}")
        rcols.append(name)
    s = rcols[0]
    for c in rcols[1:]:
        s = f"({s} + {c})"
    mexpr = [f"{s} / {float(L)!r} AS {pfx}m"]
    v = f"(({rcols[0]} - {pfx}m) * ({rcols[0]} - {pfx}m))"
    for c in rcols[1:]:
        v = f"({v} + (({c} - {pfx}m) * ({c} - {pfx}m)))"
    vexpr = [f"{v} / {float(L)!r} AS {pfx}vv"]
    nexprs, ncols = [], []
    for j in range(L):
        body = (
            f"(({rcols[j]} - {pfx}m) / sqrt({pfx}vv + {LN_EPS!r}))"
            f" * {float(p.g[j])!r} + {float(p.b[j])!r}"
        )
        name = f"{pfx}n{j}"
        nexprs.append(f"{round6_sql(body)} AS {name}")
        ncols.append(name)
    return [rexprs, mexpr, vexpr, nexprs], ncols


def _ff_sql(
    f: FeedForward, src: Sequence[str], pfx: str
) -> tuple[list[list[str]], list[str]]:
    hexprs, hcols = [], []
    for k, body in enumerate(_affine_sql(f.w1, f.b1, src)):
        name = f"{pfx}f{k}"
        hexprs.append(f"{round6_sql(_relu_sql(body))} AS {name}")
        hcols.append(name)
    gexprs, gcols = [], []
    for j, body in enumerate(_affine_sql(f.w2, f.b2, hcols)):
        name = f"{pfx}g{j}"
        gexprs.append(f"{round6_sql(body)} AS {name}")
        gcols.append(name)
    return [hexprs, gexprs], gcols


def sql_forward_exprs(
    weights: TransformerAEWeights, in_cols: Sequence[str]
) -> tuple[list[list[str]], list[str]]:
    """Unrolled per-level SELECT expression lists replaying `forward_np`;
    returns (levels, reconstruction column names). Each level only
    references columns from strictly earlier levels — thread them
    through chained CTEs. Generic SQL — Spark and DuckDB parse
    identically."""
    weights.validate()
    L = weights.seq_len
    pe = positional_encoding(L)
    levels: list[list[str]] = []

    def entry(pfx: str) -> list[str]:
        exprs, cols = [], []
        for j in range(L):
            name = f"{pfx}{j}"
            exprs.append(
                f"{round6_sql(f'{in_cols[j]} + {float(pe[j])!r}')} AS {name}"
            )
            cols.append(name)
        levels.append(exprs)
        return cols

    u = entry("u")
    for i, ly in enumerate(weights.encoder):
        lv, a = _attn_sql(ly.attn, u, f"en{i}_")
        levels += lv
        lv, n1 = _residual_norm_sql(ly.ln1, u, a, f"en{i}_x_")
        levels += lv
        lv, g = _ff_sql(ly.ff, n1, f"en{i}_")
        levels += lv
        lv, u = _residual_norm_sql(ly.ln2, n1, g, f"en{i}_y_")
        levels += lv
    mem = u
    t = entry("t")
    for i, ly in enumerate(weights.decoder):
        lv, a1 = _attn_sql(ly.self_attn, t, f"de{i}_s_")
        levels += lv
        lv, n1 = _residual_norm_sql(ly.ln1, t, a1, f"de{i}_x_")
        levels += lv
        lv, a2 = _attn_sql(ly.cross_attn, mem, f"de{i}_c_")
        levels += lv
        lv, n2 = _residual_norm_sql(ly.ln2, n1, a2, f"de{i}_y_")
        levels += lv
        lv, g = _ff_sql(ly.ff, n2, f"de{i}_")
        levels += lv
        lv, t = _residual_norm_sql(ly.ln3, n2, g, f"de{i}_z_")
        levels += lv
    lexprs, lcols = [], []
    for j, body in enumerate(_affine_sql(weights.wf, weights.bf, t)):
        name = f"lg{j}"
        lexprs.append(f"{round6_sql(body)} AS {name}")
        lcols.append(name)
    levels.append(lexprs)
    levels.append([f"greatest({', '.join(lcols)}) AS lmx"])
    sexprs, scols = [], []
    for j in range(L):
        name = f"sx{j}"
        sexprs.append(f"{round6_sql(f'exp({lcols[j]} - lmx)')} AS {name}")
        scols.append(name)
    levels.append(sexprs)
    tot = scols[0]
    for c in scols[1:]:
        tot = f"({tot} + {c})"
    yexprs, ycols = [], []
    for j in range(L):
        name = f"y{j}"
        yexprs.append(f"{round6_sql(f'{scols[j]} / ({tot})')} AS {name}")
        ycols.append(name)
    levels.append(yexprs)
    return levels, ycols


__all__ = [
    "AttnBlock",
    "LayerNormP",
    "FeedForward",
    "EncoderLayerW",
    "DecoderLayerW",
    "TransformerAEWeights",
    "make_demo_transformer_weights",
    "positional_encoding",
    "forward_np",
    "reconstruction_errors_np",
    "transformer_ae_reconstruction_error",
    "transformer_ae_window_scores",
    "sql_forward_exprs",
    "sql_error_exprs",
]
