"""Batch AE-inference scoring: strided z-scored windows → forward-pass
kernel — the package home of the construction the gated
`*_ae_inference_events` queries (and `jobs/score_job.py`) run.

This is the batch pipeline of the reference's scoring path: window the
stream per series (`udfs/_base.py` window cache → here strided trailing
windows over the at-rest table), standardize, run the frozen artifact's
forward pass, reduce to per-window scores (`udfs/inference.py:62-110`).

The z-scoring is emitted as SQL expression STRINGS consumed via
`F.expr` — the same text the DuckDB oracles embed — so the
standardization arithmetic cannot drift between engines (see
functions/ae.py for the 6-dp fixed-point discipline).

Scale shape: one exchange on the series key feeds a single window pass
(lag grid + running row_number); everything downstream is per-row
column math + one Arrow kernel. No further shuffle; at 10^12 rows the
cost is scan + one shuffle + embarrassingly parallel arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from numalogic_spark.functions.ae import _round6_np, round6_sql

FAMILIES = ("vanilla", "sparse", "conv", "lstm", "transformer", "vae")


def z_window_exprs(seq_len: int) -> tuple[str, str, list[str]]:
    """Shared m / sd / z0..z{L-1} expression strings over lag columns
    x0..x{L-1} — Spark consumes them via F.expr, the oracle embeds the
    identical text."""
    xs = [f"x{i}" for i in range(seq_len)]
    s = xs[0]
    for c in xs[1:]:
        s = f"({s} + {c})"
    m = f"{s} / {float(seq_len)!r}"
    d2 = [f"((x{i} - m) * (x{i} - m))" for i in range(seq_len)]
    v = d2[0]
    for t in d2[1:]:
        v = f"({v} + {t})"
    sd = f"sqrt({v} / {float(seq_len)!r})"
    zs = [
        round6_sql(f"(x{i} - m) / (sd + 0.000001)") for i in range(seq_len)
    ]
    return m, sd, zs


def strided_z_windows(
    df: DataFrame,
    seq_len: int,
    stride: int,
    source_col: str = "source",
    ts_col: str = "ts_s",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Stride-`stride` length-`seq_len` trailing windows per series,
    per-window z-scored: one `Window.partitionBy(source)` pass builds a
    lag grid + row_number, the stride filter keeps window-closing rows,
    and the shared z expressions standardize. Returns
    (source, ts_col, id_col, window: array<double>)."""
    from pyspark.sql import Window as W

    if seq_len < 1 or stride < 1:
        raise ValueError(f"seq_len/stride must be >= 1, got {seq_len}/{stride}")
    w = W.partitionBy(source_col).orderBy(ts_col, id_col)
    lagged = df.select(
        F.col(source_col).alias("source"),
        ts_col,
        id_col,
        F.row_number().over(w).alias("rn"),
        *[
            F.lag(value_col, seq_len - 1 - i).over(w).alias(f"x{i}")
            for i in range(seq_len)
        ],
    ).filter(
        (F.col("rn") >= seq_len) & ((F.col("rn") - seq_len) % stride == 0)
    )
    m_e, sd_e, z_es = z_window_exprs(seq_len)
    std = lagged.withColumn("m", F.expr(m_e)).withColumn("sd", F.expr(sd_e))
    for i, ze in enumerate(z_es):
        std = std.withColumn(f"z{i}", F.expr(ze))
    return std.select(
        "source", ts_col, id_col,
        F.array(*[F.col(f"z{i}") for i in range(seq_len)]).alias("window"),
    )


def load_weights(family: str, artifact_json: str):
    """Parse a frozen-artifact JSON for the given model family."""
    if family in ("vanilla", "sparse"):
        from numalogic_spark.functions.ae import AEWeights

        return AEWeights.from_json(artifact_json)
    if family == "conv":
        from numalogic_spark.functions.conv_ae import ConvAEWeights

        return ConvAEWeights.from_json(artifact_json)
    if family == "lstm":
        from numalogic_spark.functions.lstm_ae import LSTMAEWeights

        return LSTMAEWeights.from_json(artifact_json)
    if family == "transformer":
        from numalogic_spark.functions.transformer_ae import (
            TransformerAEWeights,
        )

        return TransformerAEWeights.from_json(artifact_json)
    if family == "vae":
        from numalogic_spark.functions.vae import VAEWeights

        return VAEWeights.from_json(artifact_json)
    raise ValueError(f"unknown model family {family!r}; expected one of {FAMILIES}")


def demo_weights(family: str, seq_len: int):
    """The frozen demo artifact for a family (the gated queries' models)."""
    if family == "vanilla":
        from numalogic_spark.functions.ae import make_demo_weights

        return make_demo_weights(seq_len=seq_len)
    if family == "sparse":
        from numalogic_spark.functions.ae import make_sparse_demo_weights

        return make_sparse_demo_weights(seq_len=seq_len)
    if family == "conv":
        from numalogic_spark.functions.conv_ae import make_demo_conv_weights

        return make_demo_conv_weights(seq_len=seq_len)
    if family == "lstm":
        from numalogic_spark.functions.lstm_ae import make_demo_lstm_weights

        return make_demo_lstm_weights(seq_len=seq_len)
    if family == "transformer":
        from numalogic_spark.functions.transformer_ae import (
            make_demo_transformer_weights,
        )

        return make_demo_transformer_weights(seq_len=seq_len)
    if family == "vae":
        from numalogic_spark.functions.vae import make_demo_vae_weights

        return make_demo_vae_weights(seq_len=seq_len)
    raise ValueError(f"unknown model family {family!r}; expected one of {FAMILIES}")


def errors_np(family: str):
    """numpy-level reconstruction-error kernel for `family` — the
    dispatch the streaming scoring vertex uses (same modules as
    `score_windows`, same arithmetic as the gated batch queries):
    (weights, z_windows (n, L)) → 6-dp-snapped per-position errors."""
    if family in ("vanilla", "sparse"):
        from numalogic_spark.functions.ae import reconstruction_errors_np
    elif family == "conv":
        from numalogic_spark.functions.conv_ae import reconstruction_errors_np
    elif family == "lstm":
        from numalogic_spark.functions.lstm_ae import reconstruction_errors_np
    elif family == "transformer":
        from numalogic_spark.functions.transformer_ae import (
            reconstruction_errors_np,
        )
    elif family == "vae":
        from numalogic_spark.functions.vae import reconstruction_errors_np
    else:
        raise ValueError(
            f"unknown model family {family!r}; expected one of {FAMILIES}"
        )
    return reconstruction_errors_np


def score_windows_np(family: str, weights, z):
    """(err_mean, err_max) per z-scored window for any family — the
    scalar shape every gated query emits, with the same left-to-right
    6-dp snapped mean fold as `functions.ae.window_scores_np` (which
    this generalizes; the vanilla path is arithmetic-identical)."""
    errs = errors_np(family)(weights, z)
    s = errs[:, 0].copy()
    for k in range(1, errs.shape[1]):
        s = s + errs[:, k]
    mean6 = _round6_np(s / float(errs.shape[1]))
    return mean6, errs.max(axis=1)


def score_windows(windows: DataFrame, family: str, weights) -> DataFrame:
    """Dispatch to the family's Arrow kernel: appends recon_err,
    err_mean, err_max to a windows frame."""
    if family in ("vanilla", "sparse"):
        from numalogic_spark.functions.ae import ae_window_scores

        return ae_window_scores(windows, weights)
    if family == "conv":
        from numalogic_spark.functions.conv_ae import conv_ae_window_scores

        return conv_ae_window_scores(windows, weights)
    if family == "lstm":
        from numalogic_spark.functions.lstm_ae import lstm_ae_window_scores

        return lstm_ae_window_scores(windows, weights)
    if family == "transformer":
        from numalogic_spark.functions.transformer_ae import (
            transformer_ae_window_scores,
        )

        return transformer_ae_window_scores(windows, weights)
    if family == "vae":
        from numalogic_spark.functions.vae import vae_window_scores

        return vae_window_scores(windows, weights)
    raise ValueError(f"unknown model family {family!r}; expected one of {FAMILIES}")
