import numpy as np
import pandas as pd
import pytest

from numalogic_spark.config import (
    PipelineConf,
    StageConf,
    apply_preprocess,
    compile_transform_chain,
    fit_and_score,
)


@pytest.fixture(scope="module")
def df(spark):
    rng = np.random.default_rng(42)
    return spark.createDataFrame(
        pd.DataFrame({"i": range(100), "source": "s", "x": rng.random(100) * 9 + 1})
    )


def test_chain_compiles_to_one_expression(spark, df):
    stages = [
        StageConf("LogTransformer", {"add_factor": 2.0}),
        StageConf("DataClipper", {"lower": 0.5, "upper": 2.0}),
        StageConf("TanhNorm", {}),
    ]
    got = df.select("i", compile_transform_chain("x", stages).alias("y")).orderBy("i").toPandas()
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    exp = 10 * np.tanh(np.clip(np.log(x + 2.0), 0.5, 2.0) / 10)
    np.testing.assert_allclose(got["y"], exp, rtol=1e-9)
    # single projection: no extra exchanges/stages in the plan
    plan = df.select(compile_transform_chain("x", stages))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_unknown_stage_raises(df):
    with pytest.raises(ValueError, match="unknown transform"):
        compile_transform_chain("x", [StageConf("NopeTransformer")])
    with pytest.raises(ValueError, match="unknown threshold"):
        fit_and_score(df, PipelineConf(metrics=["x"], threshold=StageConf("Nope")))


def test_config_pipeline_end_to_end(spark, df):
    cfg = PipelineConf(
        metrics=["x"],
        preprocess=[StageConf("LogTransformer", {"add_factor": 1.0})],
        threshold=StageConf("StdDevThreshold", {"std_factor": 2.0}),
    )
    pre = apply_preprocess(df, cfg)
    assert "x__pre" in pre.columns
    scored = fit_and_score(df, cfg, by=["source"]).orderBy("i").toPandas()
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    thr = x.mean() + 2.0 * x.std()
    np.testing.assert_allclose(scored["x__score"], x / thr, rtol=1e-9)


def test_factory_dispatch_covers_reference_preprocess_names(spark):
    """Every PreprocessFactory name with a closed-form analog is reachable
    declaratively (reference UX, config/factory.py:42-97): column exprs
    (DifferenceTransform, GaussianNoiseAdder), fitted scalers
    (Standard/MinMax/MaxAbs/Robust), frame-level stages (ExpMovingAverage,
    FlattenVector, FlattenVectorWithPadding)."""
    from numalogic_spark.config import (
        TRANSFORM_FACTORY,
        _df_transform_factory,
        _scaler_factory,
    )

    names = set(TRANSFORM_FACTORY) | set(_scaler_factory()) | set(_df_transform_factory())
    reference_preprocess = {
        "StandardScaler", "MinMaxScaler", "MaxAbsScaler", "RobustScaler",
        "LogTransformer", "StaticPowerTransformer", "TanhScaler", "DataClipper",
        "GaussianNoiseAdder", "DifferenceTransform", "FlattenVector",
        "FlattenVectorWithPadding", "PercentileScaler", "ExpMovingAverage",
    }
    assert reference_preprocess <= names


def test_config_difference_and_noise_stages(spark, df):
    import pyspark.sql.functions as F

    cfg = PipelineConf(
        metrics=["x"],
        preprocess=[
            StageConf("DifferenceTransform", {"order_by": ["i"], "partition_by": ["source"]}),
        ],
    )
    got = apply_preprocess(df, cfg).orderBy("i").toPandas()
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    exp = np.diff(x, prepend=np.nan)
    exp[0] = exp[1]  # bfill
    np.testing.assert_allclose(got["x__pre"], exp, rtol=1e-9)

    noisy_cfg = PipelineConf(
        metrics=["x"],
        preprocess=[StageConf("GaussianNoiseAdder", {"id_col": "i", "scale": 1e-3})],
    )
    noisy = apply_preprocess(df, noisy_cfg).orderBy("i").toPandas()
    # positive-only |N(0,scale)| noise: strictly >= x, seeded-deterministic
    assert (noisy["x__pre"].to_numpy() >= x).all()
    again = apply_preprocess(df, noisy_cfg).orderBy("i").toPandas()
    np.testing.assert_array_equal(noisy["x__pre"], again["x__pre"])


def test_config_fitted_scaler_stage_chain(spark, df):
    """A column stage then a fitted sklearn-scaler stage: the scaler fits
    on the log-transformed column and the chain's final name is
    x__pre__scaled."""
    cfg = PipelineConf(
        metrics=["x"],
        preprocess=[
            StageConf("LogTransformer", {"add_factor": 1.0}),
            StageConf("StandardScaler", {}),
        ],
    )
    got = apply_preprocess(df, cfg).orderBy("i").toPandas()
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    lx = np.log(x + 1.0)
    exp = (lx - lx.mean()) / lx.std()
    np.testing.assert_allclose(got["x__pre__scaled"], exp, rtol=1e-9)
    # all four sklearn names dispatch
    for name in ("MinMaxScaler", "MaxAbsScaler", "RobustScaler"):
        out = apply_preprocess(df, PipelineConf(metrics=["x"], preprocess=[StageConf(name)]))
        assert "x__scaled" in out.columns


def test_config_frame_level_stages(spark):
    """ExpMovingAverage / FlattenVector / FlattenVectorWithPadding run as
    frame-level stages and rename the working metrics."""
    import pyspark.sql.functions as F

    pdf = pd.DataFrame(
        {
            "source": "s",
            "event_ts": pd.date_range("2024-01-01", periods=8, freq="1min"),
            "a": np.arange(8, dtype=float),
            "b": np.arange(8, dtype=float) * 10,
        }
    )
    df = spark.createDataFrame(pdf)
    ewm_cfg = PipelineConf(
        metrics=["a"], preprocess=[StageConf("ExpMovingAverage", {"beta": 0.5})]
    )
    got = apply_preprocess(df, ewm_cfg).orderBy("event_ts").toPandas()
    exp = pdf["a"].astype(np.float32).ewm(alpha=0.5).mean().astype(np.float32)
    np.testing.assert_allclose(got["a"], exp, rtol=1e-6)

    flat_cfg = PipelineConf(
        metrics=["a", "b"],
        preprocess=[StageConf("FlattenVector", {"id_cols": ["source", "event_ts"]})],
    )
    flat = apply_preprocess(df, flat_cfg).orderBy("event_ts", "feature_pos").toPandas()
    assert len(flat) == 16
    np.testing.assert_allclose(
        flat["value"], np.column_stack([pdf["a"], pdf["b"]]).flatten(), rtol=1e-12
    )

    pad_cfg = PipelineConf(
        metrics=["a", "b"],
        preprocess=[
            StageConf(
                "FlattenVectorWithPadding",
                {"flatten_features": ["a"], "order_by": ["event_ts"],
                 "partition_by": ["source"], "padding_with": -1.0},
            )
        ],
    )
    pad = apply_preprocess(df, pad_cfg).orderBy("out_pos").toPandas()
    assert len(pad) == 8  # 1 flatten col -> n·1 rows
    np.testing.assert_allclose(pad["value"], pdf["a"], rtol=1e-12)
    np.testing.assert_allclose(pad["b"], pdf["b"], rtol=1e-12)


def test_estimator_conf_routing_and_out_naming(spark, df):
    """Review fixes: transform-time params (TanhScaler coeff) route to the
    transform fn; RobustMahalanobisThreshold in preprocess hands the chain
    md_score (not phantom {m}__scaled columns); unknown params raise."""
    import numpy as np

    cfg = PipelineConf(
        metrics=["x"],
        preprocess=[StageConf("TanhScaler", {"coeff": 0.3})],
    )
    got = apply_preprocess(df, cfg).orderBy("i").toPandas()
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    exp = 0.5 * (np.tanh(0.3 * (x - x.mean()) / x.std()) + 1)
    np.testing.assert_allclose(got["x__scaled"], exp, rtol=1e-9)

    robust_cfg = PipelineConf(
        metrics=["x"],
        preprocess=[
            StageConf("RobustMahalanobisThreshold",
                      {"order_by": ["i"], "support_fraction": 0.8}),
            StageConf("TanhNorm", {}),
        ],
    )
    out = apply_preprocess(df, robust_cfg, by=["source"])
    # the chain continued on md_score (in place — the fitted stage already
    # renamed the working metrics), not on phantom x__scaled columns
    assert "md_score" in out.columns and "x__scaled" not in out.columns
    assert out.count() == 100

    with pytest.raises(ValueError, match="unknown estimator param"):
        apply_preprocess(
            df,
            PipelineConf(metrics=["x"],
                         preprocess=[StageConf("TanhScaler", {"nope": 1})]),
        )


def test_ewm_stage_keeps_other_columns(spark):
    """Review fix: the ExpMovingAverage frame stage passes id columns
    through instead of dropping them."""
    import numpy as np

    pdf = pd.DataFrame(
        {
            "source": "s",
            "event_ts": pd.date_range("2024-01-01", periods=6, freq="1min"),
            "event_id": np.arange(6),
            "a": np.arange(6, dtype=float),
        }
    )
    sdf = spark.createDataFrame(pdf)
    cfg = PipelineConf(metrics=["a"], preprocess=[StageConf("ExpMovingAverage")])
    got = apply_preprocess(sdf, cfg).orderBy("event_ts").toPandas()
    assert "event_id" in got.columns
    np.testing.assert_array_equal(got["event_id"], pdf["event_id"])
    exp = pdf["a"].astype(np.float32).ewm(alpha=0.5).mean().astype(np.float32)
    np.testing.assert_allclose(got["a"], exp, rtol=1e-6)


def test_scaler_suffix_conf_tracks_metrics(spark, df):
    """A transform-time suffix= conf renames the output columns AND the
    tracked metric names, so the next stage chains on real columns."""
    cfg = PipelineConf(
        metrics=["x"],
        preprocess=[
            StageConf("StandardScaler", {"suffix": "__z"}),
            StageConf("TanhNorm", {}),
        ],
    )
    got = apply_preprocess(df, cfg).orderBy("i").toPandas()
    assert "x__z" in got.columns and "x__scaled" not in got.columns
    x = df.orderBy("i").toPandas()["x"].to_numpy()
    z = (x - x.mean()) / x.std()
    np.testing.assert_allclose(got["x__z"], 10 * np.tanh(z / 10), rtol=1e-9)
