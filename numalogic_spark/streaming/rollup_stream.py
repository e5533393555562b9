"""Structured Streaming variant of the rollup engine.

The reference runs as a Numaflow streaming pipeline but delegates all
windowing to the platform (SURVEY §2.9: payloads arrive pre-windowed,
`Datum` watermarks unused by the UDFs). Here the engine owns it:
event-time windows + watermarks for late data (`streaming_rollup`,
`streaming_m4`, `streaming_sessionize`), and applyInPandasWithState
kernels that carry per-series state across micro-batches:
`streaming_ewm` (the streaming analog of ExpMovingAverage,
transforms/_movavg.py:100-113) and `streaming_counter_deltas`.

Batch and streaming share the same aggregate definitions, so a backfill
(`rollup_tiers_fused`) and the live path (this module, run by
jobs/stream_job.py) produce consistent 1m tiers — the "kappa" layout a
lakehouse deployment would use.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from numalogic_spark.operators.rollup import RollupConfig


def streaming_rollup(
    stream_df: DataFrame,
    cfg: RollupConfig | None = None,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time tumbling-window continuous aggregate with late-data bound.

    count/sum/mean re-aggregate exactly; the per-bucket quantile uses
    percentile_approx (mergeable sketch — the streaming analog of Druid's
    quantilesDoublesSketch, connectors/druid/aggregators.py:1-22): exact
    quantiles need the full value multiset, which an incremental streaming
    state must bound. The batch cascade remains the exactness path.
    """
    cfg = cfg or RollupConfig()
    v = F.col(cfg.value_col).cast("double")
    return (
        stream_df.withWatermark(cfg.ts_col, watermark)
        .groupBy(
            F.col(cfg.source_col).alias("source"),
            F.window(cfg.ts_col, window).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(v).alias("n_tok_sum"),
            F.avg(v).alias("n_tok_mean"),
            F.percentile_approx(v, cfg.percentile, 10000).alias("n_tok_p95"),
        )
        .select(
            "source",
            F.col("w.start").alias("bucket_ts"),
            "count",
            "n_tok_sum",
            "n_tok_mean",
            "n_tok_p95",
        )
    )


_EWM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ewm", T.DoubleType()),     # running weighted numerator
        T.StructField("wsum", T.DoubleType()),    # running weight denominator
        T.StructField("n", T.LongType()),
    ]
)

_EWM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewm", T.DoubleType()),
    ]
)


def streaming_ewm(
    stream_df: DataFrame,
    beta: float = 0.5,
    source_col: str = "source",
    ts_col: str = "event_ts",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator: per-series pandas-style EWM across
    micro-batches via applyInPandasWithState.

    Carries (numerator, weight-sum, n) per source so the adjust=True ewm
    (y_t = Σβ^(t-i)x_i / Σβ^(t-i)) continues seamlessly across batches —
    equivalent to the batch kernel operators/windows.ewm_smooth on the
    concatenated stream (verified in tests/test_streaming.py).
    """
    if not 0.0 < beta < 1.0:
        raise ValueError("beta only accepts values between 0 and 1 (not inclusive)")
    alpha = 1.0 - beta
    beta_ = beta

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        (source,) = key
        if state.exists:
            num_prev, den_prev, _n = state.get
        else:
            num_prev, den_prev, _n = 0.0, 0.0, 0
        outs = []
        # a group larger than the Arrow batch size arrives as MULTIPLE
        # chunks that are NOT globally time-ordered — concatenate first,
        # sort once, process as one sequence (values are assumed non-null;
        # impute upstream, e.g. transforms.impute_nan_inf, like the
        # reference's fillna at udfs/tools.py:52)
        whole = pd.concat(list(pdfs), ignore_index=True)
        for pdf in ([whole] if len(whole) else []):
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            vals = pdf[value_col].astype(float).to_numpy()
            if len(vals):
                # vectorized state-carry: full num_t = num_cl + β^(t+1)·num_prev
                # where num_cl/den_cl are the chunk-local ewm numerator and
                # geometric weight sum — no per-row recurrence loop.
                t = np.arange(len(vals), dtype=float)
                den_cl = (1.0 - beta_ ** (t + 1)) / (1.0 - beta_)
                y_cl = pd.Series(vals).ewm(alpha=alpha).mean().to_numpy()
                num_cl = y_cl * den_cl
                bpow = beta_ ** (t + 1)
                num = num_cl + bpow * num_prev
                den = den_cl + bpow * den_prev
                res = num / den
                num_prev, den_prev = float(num[-1]), float(den[-1])
                _n += len(vals)
            else:
                res = vals
            outs.append(
                pd.DataFrame(
                    {
                        "source": source,
                        "event_ts": pdf[ts_col].to_numpy(),
                        "value": vals,
                        "ewm": res,
                    }
                )
            )
        state.update((float(num_prev), float(den_prev), int(_n)))
        yield pd.concat(outs) if outs else pd.DataFrame(
            {c.name: pd.Series([], dtype="object") for c in _EWM_OUT_SCHEMA}
        )

    return stream_df.groupBy(source_col).applyInPandasWithState(
        fn,
        outputStructType=_EWM_OUT_SCHEMA,
        stateStructType=_EWM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_CTR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("has_prev", T.BooleanType()),
        T.StructField("prev", T.DoubleType()),
    ]
)
_CTR_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("adjusted", T.DoubleType()),
        T.StructField("is_reset", T.BooleanType()),
    ]
)


def streaming_counter_deltas(
    stream_df: DataFrame,
    source_col: str = "source",
    ts_col: str = "event_ts",
    value_col: str = "value",
    order_cols: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """Stateful streaming twin of operators/promql.counter_deltas: the
    reset-adjusted counter delta continued across micro-batches with ONE
    scalar of state per series (the last counter value). Each series'
    very first sample emits a NULL delta (no preceding interval), exactly
    like the batch lag(); downstream bucket sums then re-aggregate to the
    same increase/rate/resets as the batch path (batch ≡ stream on the
    concatenated input — tested). Event-time-ordered arrival per series
    assumed (the streaming_ewm contract); timestamps must be UNIQUE per
    series unless `order_cols` supplies a total-order tie-break (e.g.
    ("event_ts", "event_id") to mirror the batch ordering) — without
    one, duplicate-ts rows process in shuffle arrival order and the
    reset/delta output is run-dependent."""
    sort_cols = list(order_cols) if order_cols else [ts_col]

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (source,) = key
        has_prev, prev = state.get if state.exists else (False, 0.0)
        whole = pd.concat(list(pdfs), ignore_index=True)
        if not len(whole):
            yield pd.DataFrame(
                {c.name: pd.Series([], dtype="object") for c in _CTR_OUT_SCHEMA}
            )
            return
        whole = whole.sort_values(sort_cols, kind="mergesort")
        adjusted, resets = [], []
        for v in (float(x) for x in whole[value_col]):
            if not has_prev:
                adjusted.append(None)
                resets.append(False)
                has_prev = True
            else:
                d = v - prev
                adjusted.append(d if d >= 0 else v)
                resets.append(d < 0)
            prev = v
        state.update((bool(has_prev), float(prev)))
        yield pd.DataFrame(
            {
                "source": source,
                "event_ts": whole[ts_col].to_numpy(),
                "value": whole[value_col].to_numpy(),
                "adjusted": pd.array(adjusted, dtype="float64"),
                "is_reset": resets,
            }
        )

    return stream_df.groupBy(source_col).applyInPandasWithState(
        fn,
        outputStructType=_CTR_OUT_SCHEMA,
        stateStructType=_CTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_m4(
    stream_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    source_col: str = "source",
    ts_col: str = "event_ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of operators/promql.m4_downsample: the four struct
    extremes are plain min/max aggregates — mergeable streaming state,
    exactly 4 points + a count per (series, pixel) regardless of input
    rate — under an event-time tumbling window + watermark. Append mode
    emits each pixel once its watermark passes; batch ≡ stream on the
    same input (tested)."""
    v, t, i = F.col(value_col), F.unix_timestamp(F.col(ts_col)), F.col(id_col)
    by_time = F.struct(t.alias("t"), i.alias("i"), v.alias("v"))
    by_val = F.struct(v.alias("v"), t.alias("t"), i.alias("i"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(source_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(by_time).alias("first_p"),
            F.max(by_time).alias("last_p"),
            F.min(by_val).alias("min_p"),
            F.max(by_val).alias("max_p"),
        )
        .select(
            source_col,
            F.unix_timestamp(F.col("w.start")).alias("bucket_s"),
            "n",
            F.col("first_p.t").alias("t_first"),
            F.col("first_p.v").alias("v_first"),
            F.col("last_p.t").alias("t_last"),
            F.col("last_p.v").alias("v_last"),
            F.col("min_p.t").alias("t_min"),
            F.col("min_p.v").alias("v_min"),
            F.col("max_p.t").alias("t_max"),
            F.col("max_p.v").alias("v_max"),
        )
    )


def streaming_sessionize(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
    ts_col: str = "event_ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of operators/promql.sessionize, built on Spark's
    native `session_window` (dynamic-gap event-time windows with
    watermark-driven state eviction — the engine-managed version of the
    batch lag+cumsum construction). Emits one row per closed session:
    (key, start_s, end_s, n_events, duration_s, value_sum).

    TWO conventions differ from the batch operator — account for both
    when swapping it in:
    - session END: session_window's window end = last event + gap, so
      `end_s`/`duration_s` here are derived from max(event time) to
      stay batch-comparable (tested);
    - gap BOUNDARY: session_window SPLITS at delta >= gap, the batch
      operator splits at delta > gap_s — two events exactly `gap` apart
      are one batch session but two streaming sessions. On
      integral-second data the batch-equivalent setting is
      gap_s = gap_seconds - 1 (what the equivalence test uses)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_timestamp(F.col(ts_col))).alias("start_s"),
            F.max(F.unix_timestamp(F.col(ts_col))).alias("end_s"),
            F.sum(F.col(value_col).cast("decimal(15,6)")).cast("double").alias(
                "value_sum"
            ),
        )
        .select(
            key_col,
            "start_s",
            "end_s",
            "n_events",
            (F.col("end_s") - F.col("start_s")).alias("duration_s"),
            "value_sum",
        )
    )
