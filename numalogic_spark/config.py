"""Config-driven dispatch: name → kernel, the engine analog of the
reference's factories (PreprocessFactory/PostprocessFactory/
ThresholdFactory config/factory.py:42-119, AggregatorFactory :213-238) and
its OmegaConf pipeline tree (udfs/_config.py:21-83).

A pipeline is declared as data (name + kwargs per stage) and compiled onto
a DataFrame column — chains compose into ONE Catalyst projection, so a
multi-stage preprocess costs no extra passes (the reference's
sklearn.pipeline.make_pipeline analog, udfs/preprocess.py:70-75).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame

from numalogic_spark.functions import transforms as TX

# stateless transforms + score functions: name → Column-expr builder.
# DifferenceTransform/GaussianNoiseAdder are column exprs too — their conf
# carries the context the closed forms need (order_by/partition_by resp.
# id_col for counter-based seeded noise).
TRANSFORM_FACTORY = {
    "LogTransformer": TX.log_transform,
    "StaticPowerTransformer": TX.static_power_transform,
    "DataClipper": TX.data_clipper,
    "TanhNorm": TX.tanh_norm,
    "SigmoidNorm": TX.sigmoid_norm,
    "StaticThreshold": TX.static_threshold_score,
    "SigmoidThreshold": TX.sigmoid_threshold_score,
    "ImputeNanInf": TX.impute_nan_inf,
    "DifferenceTransform": TX.difference_transform,
    "GaussianNoiseAdder": TX.seeded_gaussian_noise,
}

# fitted estimators: name → (fit_fn, transform/score_fn); covers every
# PreprocessFactory/ThresholdFactory scaler the reference dispatches by
# name (config/factory.py:45,59-63,100-119) that has a closed-form fit.
# _SCALER_OUT declares each estimator's OUTPUT naming so callers never
# guess: a per-metric suffix string, or a literal column list for
# estimators that replace the metric set (RobustMahalanobis emits
# md/md_score/md_pred regardless of how many features went in).
_SCALER_OUT: dict[str, object] = {
    "StdDevThreshold": "__score",
    "MaxPercentileThreshold": "__score",
    "RobustMahalanobisThreshold": ["md_score"],
}


def _scaler_out_metrics(
    name: str, metrics: list[str], suffix: str | None = None
) -> list[str]:
    out = _SCALER_OUT.get(name, "__scaled")
    if isinstance(out, list):
        return list(out)
    # a transform-time suffix= conf overrides the default naming — the
    # tracked metric names must follow the columns the transform actually
    # writes, or the next stage references phantom columns
    if suffix is not None:
        out = suffix
    return [f"{m}{out}" for m in metrics]


def _split_estimator_conf(fit_fn, tx_fn, conf: dict):
    """Route StageConf kwargs to fit vs transform by the functions' actual
    signatures (a TanhScaler `coeff` is a transform-time param, a
    `std_factor` is fit-time; name-based guessing broke both)."""
    import inspect

    shared = {"df", "stats", "cols", "by"}
    tx_params = {
        p for p in inspect.signature(tx_fn).parameters if p not in shared
    }
    fit_params = {
        p for p in inspect.signature(fit_fn).parameters if p not in shared
    }
    fit_kw, tx_kw = {}, {}
    for k, v in conf.items():
        if k in fit_params:
            fit_kw[k] = v
        elif k in tx_params:
            tx_kw[k] = v
        else:
            raise ValueError(
                f"unknown estimator param {k!r}; fit takes {sorted(fit_params)}, "
                f"transform takes {sorted(tx_params)}"
            )
    return fit_kw, tx_kw


def _scaler_factory():
    from numalogic_spark.functions import robust as RB
    from numalogic_spark.functions import scalers as SC

    return {
        "RobustMahalanobisThreshold": (
            RB.fit_robust_mahalanobis,
            RB.score_robust_mahalanobis,
        ),
        "TanhScaler": (SC.fit_tanh_scaler, SC.transform_tanh_scaler),
        "PercentileScaler": (SC.fit_percentile_scaler, SC.transform_percentile_scaler),
        "StdDevThreshold": (SC.fit_stddev_threshold, SC.score_threshold),
        "MaxPercentileThreshold": (SC.fit_max_percentile_threshold, SC.score_threshold),
        "StandardScaler": (SC.fit_standard_scaler, SC.transform_affine_scaler),
        "MinMaxScaler": (SC.fit_minmax_scaler, SC.transform_affine_scaler),
        "MaxAbsScaler": (SC.fit_maxabs_scaler, SC.transform_affine_scaler),
        "RobustScaler": (SC.fit_robust_scaler, SC.transform_affine_scaler),
    }


# frame-level transforms: name → callable(df, metrics, **conf) returning
# (DataFrame, new_metric_cols). These reshape the frame or need a per-series
# sort, so they cannot fold into a single Column projection; apply_preprocess
# flushes the pending column chain before running one.
def _df_transform_factory():
    from numalogic_spark.operators import reshape as RS
    from numalogic_spark.operators import windows as W

    def exp_moving_average(df, metrics, *, beta=0.5, source_col="source",
                           ts_col="event_ts"):
        return W.ewm_smooth(df, metrics, beta=beta, source_col=source_col,
                            ts_col=ts_col), metrics

    def flatten_vector(df, metrics, *, id_cols):
        return RS.flatten_rows(df, id_cols, metrics), ["value"]

    def flatten_vector_with_padding(df, metrics, *, flatten_features, order_by,
                                    partition_by=None, padding_with=0.0):
        pads = [m for m in metrics if m not in set(flatten_features)]
        out = RS.flatten_rows_with_padding(
            df, order_by, list(flatten_features), pads,
            partition_by=partition_by, padding_with=padding_with,
        )
        return out, ["value", *pads]

    return {
        "ExpMovingAverage": exp_moving_average,
        "FlattenVector": flatten_vector,
        "FlattenVectorWithPadding": flatten_vector_with_padding,
    }


@dataclass(frozen=True)
class StageConf:
    name: str
    conf: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class PipelineConf:
    """Mirrors the reference's MLPipelineConf shape: a metric set plus
    named stage chains (udfs/_config.py:27-41)."""

    metrics: list[str]
    preprocess: list[StageConf] = field(default_factory=list)
    threshold: StageConf | None = None
    postprocess: StageConf | None = None


def compile_transform_chain(col: Column | str, stages: list[StageConf]) -> Column:
    """Fold named stateless stages into one Column expression."""
    out = TX._c(col)
    for st in stages:
        try:
            fn = TRANSFORM_FACTORY[st.name]
        except KeyError:
            raise ValueError(
                f"unknown transform: {st.name!r}; available: {sorted(TRANSFORM_FACTORY)}"
            ) from None
        out = fn(out, **st.conf)
    return out


def apply_preprocess(
    df: DataFrame,
    cfg: PipelineConf,
    suffix: str = "__pre",
    by: list[str] | None = None,
) -> DataFrame:
    """Run cfg.preprocess in declared order. Consecutive Column-expr stages
    fold into ONE projection (the make_pipeline analog); a fitted-scaler
    stage becomes fit-aggregate + broadcast-join transform; a frame-level
    stage (EWM smoothing, flatten reshapes) runs via _df_transform_factory
    and may rename the working metric columns. The first transforming
    flush writes `{metric}{suffix}` so callers keep the raw columns;
    later stages chain on the transformed names."""
    df_factory = _df_transform_factory()
    scalers = _scaler_factory()
    metrics = list(cfg.metrics)
    pending: list[StageConf] = []
    suffixed = False

    def flush(frame, cols):
        nonlocal pending, suffixed
        if not pending:
            return frame, cols
        out_cols = cols if suffixed else [f"{m}{suffix}" for m in cols]
        for m, om in zip(cols, out_cols):
            frame = frame.withColumn(om, compile_transform_chain(m, pending))
        pending, suffixed = [], True
        return frame, out_cols

    for st in cfg.preprocess:
        if st.name in TRANSFORM_FACTORY:
            pending.append(st)
        elif st.name in scalers:
            df, metrics = flush(df, metrics)
            fit_fn, tx_fn = scalers[st.name]
            fit_kw, tx_kw = _split_estimator_conf(fit_fn, tx_fn, st.conf)
            stats = fit_fn(df, metrics, by=by, **fit_kw)
            df = tx_fn(df, stats, metrics, by=by, **tx_kw)
            metrics = _scaler_out_metrics(st.name, metrics, tx_kw.get("suffix"))
            suffixed = True
        elif st.name in df_factory:
            df, metrics = flush(df, metrics)
            df, metrics = df_factory[st.name](df, metrics, **st.conf)
            suffixed = True
        else:
            raise ValueError(
                f"unknown transform: {st.name!r}; available: "
                f"{sorted({*TRANSFORM_FACTORY, *scalers, *df_factory})}"
            )
    df, metrics = flush(df, metrics)
    return df


def fit_and_score(
    df: DataFrame, cfg: PipelineConf, by: list[str] | None = None, train_df: DataFrame | None = None
) -> DataFrame:
    """Fit the configured threshold model (on train_df if given, else df)
    and score df — the registry save/load hop of the reference collapses
    into a broadcast join of the fitted-stats frame."""
    if cfg.threshold is None:
        return df
    factory = _scaler_factory()
    try:
        fit_fn, apply_fn = factory[cfg.threshold.name]
    except KeyError:
        raise ValueError(
            f"unknown threshold/scaler: {cfg.threshold.name!r}; available: {sorted(factory)}"
        ) from None
    fit_kw, tx_kw = _split_estimator_conf(fit_fn, apply_fn, cfg.threshold.conf)
    stats = fit_fn(train_df if train_df is not None else df, cfg.metrics, by=by, **fit_kw)
    return apply_fn(df, stats, cfg.metrics, by=by, **tx_kw)
