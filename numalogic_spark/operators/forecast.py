"""Forecast baselines — numalogic's non-torch forecasters, Spark-first.

Ports:
- BaselineForecaster (models/forecast/variants/naive.py:10-66): log1p +
  z-normalize, constant-mean forecast, |z|/threshold anomaly score with
  tanh normalization, r2 — faithful pandas port (numpy r2, no sklearn)
  for window-matrix use, PLUS the Spark long-format scoring path
  (fit = one aggregation, score = broadcast join + one projection).
- SeasonalNaiveForecaster (naive.py:69-135): previous-period forecast.
  The Spark-native form is TIME-SHIFTED: forecast(bucket) = value at
  bucket - period via an equi-join on (source, shifted bucket) — at
  10^12 rows a positional lag per series would demand a per-series sort,
  while the shift join is shuffle-on-key only and is naturally gap-aware
  (a missing prior bucket yields a NULL forecast instead of silently
  lagging across the gap).
- forecast_metrics: per-series MAE / RMSE / R² as one aggregation
  (decimal sums for cross-engine exactness).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _r2_np(y_true: np.ndarray, y_pred: np.ndarray, multioutput="uniform_average"):
    """sklearn.metrics.r2_score closed form (column-wise, uniform avg)."""
    y_true = np.asarray(y_true, dtype=float)
    y_pred = np.asarray(y_pred, dtype=float)
    if y_true.ndim == 1:
        y_true, y_pred = y_true[:, None], y_pred[:, None]
    ss_res = ((y_true - y_pred) ** 2).sum(axis=0)
    ss_tot = ((y_true - y_true.mean(axis=0)) ** 2).sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        r2 = 1.0 - ss_res / ss_tot
    # sklearn's constant-input convention: a perfectly predicted constant
    # column scores 1.0, an imperfectly predicted one 0.0
    r2 = np.where(ss_tot == 0.0, np.where(ss_res == 0.0, 1.0, 0.0), r2)
    if multioutput == "uniform_average":
        return float(r2.mean())
    return r2


class BaselineForecaster:
    """Faithful pandas port of the reference BaselineForecaster
    (naive.py:10-66): pipeline = log1p -> StandardScaler (ddof=0),
    per-column thresholds mean ± k·max(1e-2, std_ddof1) on the SCALED
    train frame, constant-mean predictions, tanh-normalized
    |z|/threshold anomaly scores."""

    def __init__(self):
        self.thresholds: dict = {}
        self.means: dict = {}
        self._mu = None
        self._sd = None
        self._cols = None

    def _check_fitted(self):
        if self._mu is None:
            raise ValueError("model not fitted yet")

    def normalize(self, df: pd.DataFrame) -> pd.DataFrame:
        self._check_fitted()
        z = (np.log1p(df.to_numpy(dtype=float)) - self._mu) / self._sd
        return pd.DataFrame(z, index=df.index, columns=df.columns)

    def inverse_normalize(self, df: pd.DataFrame) -> pd.DataFrame:
        self._check_fitted()
        x = np.expm1(df.to_numpy(dtype=float) * self._sd + self._mu)
        return pd.DataFrame(x, index=df.index, columns=df.columns)

    def find_threshold(self, train_df: pd.DataFrame, k: float = 3):
        for col in train_df.columns:
            mean = train_df[col].mean()
            std = max(1e-2, train_df[col].std())
            self.thresholds[col] = (mean - k * std, mean + k * std)
            self.means[col] = mean
        return self.thresholds

    def fit(self, train_df: pd.DataFrame):
        x = np.log1p(train_df.to_numpy(dtype=float))
        self._mu = x.mean(axis=0)
        sd = x.std(axis=0)  # ddof=0, sklearn StandardScaler
        self._sd = np.where(sd == 0.0, 1.0, sd)
        self._cols = list(train_df.columns)
        return self.find_threshold(self.normalize(train_df))

    def predict(self, test_df: pd.DataFrame) -> pd.DataFrame:
        self._check_fitted()
        const = pd.DataFrame(
            {c: np.full(test_df.shape[0], self.means[c]) for c in self._cols}
        )
        return self.inverse_normalize(const)

    def score(self, test_df: pd.DataFrame) -> pd.DataFrame:
        scaled = self.normalize(test_df)
        out = {}
        for col in scaled.columns:
            deviation = scaled[col].abs().to_numpy()
            # tanh_norm (transforms/_postprocess.py): 10·tanh(x/10)
            out[col] = 10.0 * np.tanh((deviation / self.thresholds[col][1]) / 10.0)
        return pd.DataFrame(out, index=scaled.index)

    def r2_score(self, test_df: pd.DataFrame, multioutput="uniform_average"):
        return _r2_np(test_df.to_numpy(dtype=float),
                      self.predict(test_df).to_numpy(), multioutput)


class SeasonalNaiveForecaster:
    """Faithful pandas port of the reference SeasonalNaiveForecaster
    (naive.py:69-135): z-scale, predict the final period of the train
    window, inverse-scale."""

    def __init__(self, season: str = "daily"):
        if season == "daily":
            self.period = 1440
        elif season == "weekly":
            self.period = 10080
        else:
            raise NotImplementedError()
        self._mu = None
        self._sd = None
        self.norm_train_df: pd.DataFrame | None = None

    def normalize(self, df: pd.DataFrame) -> pd.DataFrame:
        z = (df.to_numpy(dtype=float) - self._mu) / self._sd
        return pd.DataFrame(z, index=df.index, columns=df.columns)

    def inverse_normalize(self, df: pd.DataFrame) -> pd.DataFrame:
        x = df.to_numpy(dtype=float) * self._sd + self._mu
        return pd.DataFrame(x, index=df.index, columns=df.columns)

    def fit(self, train_df: pd.DataFrame) -> None:
        if self.period > train_df.shape[0]:
            raise ValueError(f"Training set too small for period: {self.period}")
        x = train_df.to_numpy(dtype=float)
        self._mu = x.mean(axis=0)
        sd = x.std(axis=0)
        self._sd = np.where(sd == 0.0, 1.0, sd)
        self.norm_train_df = self.normalize(train_df)

    def predict(self, test_df: pd.DataFrame) -> pd.DataFrame:
        test_size = test_df.shape[0]
        if test_size < self.period:
            pred_df = self.norm_train_df[-self.period : (-self.period + test_size)]
        elif test_size == self.period:
            pred_df = self.norm_train_df[-self.period :]
        else:
            raise RuntimeError("Cannot use Naive Forecaster for testsize > period")
        pred_df = pred_df.copy()
        pred_df.index = test_df.index
        return self.inverse_normalize(pred_df)

    def r2_score(self, test_df: pd.DataFrame, multioutput="uniform_average"):
        return _r2_np(test_df.to_numpy(dtype=float),
                      self.predict(test_df).to_numpy(), multioutput)


# ---------------------------------------------------------------------------
# Spark long-format operators
# ---------------------------------------------------------------------------


def seasonal_naive(
    df: DataFrame,
    period_s: int,
    source_col: str = "source",
    bucket_col: str = "bucket_ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-shifted seasonal-naive forecast over a rolled-up frame:
    forecast(source, t) = value(source, t - period_s), via an equi-join on
    (source, shifted bucket). One shuffle on the join key, no per-series
    sort; a bucket with no prior observation gets a NULL forecast (and a
    NULL error) rather than a value lagged across the gap — the honest
    behavior for sparse series. Adds forecast + abs_err columns."""
    prior = df.select(
        F.col(source_col),
        (F.col(bucket_col) + F.expr(f"INTERVAL {int(period_s)} SECONDS")).alias(bucket_col),
        F.col(value_col).alias("forecast"),
    )
    out = df.join(prior, [source_col, bucket_col], "left")
    return out.withColumn("abs_err", F.abs(F.col(value_col) - F.col("forecast")))


def forecast_metrics(
    scored: DataFrame,
    source_col: str = "source",
    value_col: str = "value",
    forecast_col: str = "forecast",
) -> DataFrame:
    """Per-series MAE / RMSE / R² over the rows that HAVE a forecast, as
    ONE aggregation with decimal sums (order-independent — the hash-gate
    discipline). R² = 1 - SSres/SStot with SStot from the decimal moment
    identity Σ(y-ȳ)² = Σy² - (Σy)²/n.

    decimal(15,6), NOT (20,6): Spark caps a (20,6)×(20,6) product at
    precision 38 by ROUNDING its scale down to 7, while DuckDB keeps the
    exact 12-scale product — per-term 1e-8-level drift that breaks the
    cross-engine hash. (15,6)×(15,6) → (31,12) fits under 38 on both
    engines, so the squared sums stay exact."""
    y = F.col(value_col).cast("decimal(15,6)")
    f = F.col(forecast_col).cast("decimal(15,6)")
    err = y - f
    base = scored.filter(F.col(forecast_col).isNotNull())
    agg = base.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs(err)).cast("double").alias("_sae"),
        F.sum(err * err).cast("double").alias("_sse"),
        F.sum(y).cast("double").alias("_sy"),
        F.sum(y * y).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    ss_tot = F.col("_syy") - (F.col("_sy") * F.col("_sy")) / n
    r2 = F.when(ss_tot <= F.lit(0.0), F.lit(0.0)).otherwise(
        F.lit(1.0) - F.col("_sse") / ss_tot
    )
    return agg.select(
        source_col,
        "n",
        (F.col("_sae") / n).alias("mae"),
        F.sqrt(F.col("_sse") / n).alias("rmse"),
        r2.alias("r2"),
    )


def holt_linear(
    bucketed: DataFrame,
    value_col: str = "val",
    source_col: str = "source",
    bucket_col: str = "bucket_s",
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per series:

        l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}
        fitted one-step forecast f_t = l_{t-1} + b_{t-1}

    initialized l_1 = x_1, b_1 = x_2 - x_1 (f_1 is NULL); series with
    fewer than 2 points are dropped. The level/trend recursion extends
    the engine's forecaster family (Baseline = constant mean,
    SeasonalNaive = period shift) with the standard trend-following
    baseline.

    The recursion is genuinely sequential, so it runs as a scalar python
    loop inside applyInPandas — parallelism = series cardinality (the
    windows.py design point; series are bounded by their time range, not
    corpus size, so a 100-TB corpus with many sources stays balanced).
    The smoothing constants are pre-folded in python (OM_* = 1-α etc.)
    and every step is a fixed IEEE op sequence, so a SQL recursion
    emitting the SAME expression text replays it bit-for-bit — that is
    how the DuckDB oracle gates this operator (recursive CTE).

    Output: (source, bucket_s, val, level, trend, fitted)."""
    if not (0.0 < alpha <= 1.0 and 0.0 <= beta <= 1.0):
        raise ValueError(f"need 0<alpha<=1, 0<=beta<=1, got {alpha}, {beta}")
    a, oa = float(alpha), 1.0 - float(alpha)
    b_, ob = float(beta), 1.0 - float(beta)

    schema = (
        f"{source_col} string, {bucket_col} long, val double, "
        "level double, trend double, fitted double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col, ignore_index=True)
        xs = [float(v) for v in pdf[value_col]]
        if len(xs) < 2:
            return pd.DataFrame(
                columns=[source_col, bucket_col, "val", "level", "trend", "fitted"]
            )
        lev, tr = xs[0], xs[1] - xs[0]
        levels, trends, fitted = [lev], [tr], [None]
        for t in range(1, len(xs)):
            f = lev + tr
            l_new = a * xs[t] + oa * (lev + tr)
            tr = b_ * (l_new - lev) + ob * tr
            lev = l_new
            levels.append(lev)
            trends.append(tr)
            fitted.append(f)
        return pd.DataFrame(
            {
                source_col: pdf[source_col],
                bucket_col: pdf[bucket_col],
                "val": xs,
                "level": levels,
                "trend": trends,
                "fitted": fitted,
            }
        )

    return bucketed.groupBy(source_col).applyInPandas(_fit, schema=schema)


def kalman_level(
    bucketed: DataFrame,
    value_col: str = "val",
    source_col: str = "source",
    bucket_col: str = "bucket_s",
    q: float = 1.0,
    r: float = 4.0,
) -> DataFrame:
    """Local-level Kalman filter per series (the random-walk-plus-noise
    state space — the optimal version of what EWM approximates, with a
    gain that ADAPTS over the warm-up instead of being fixed):

        P⁻ = P + q;   K = P⁻/(P⁻ + r);   x̂ += K·(z − x̂);   P = (1−K)·P⁻

    initialized x̂_1 = z_1, P_1 = r (gain/innovation NULL at t=1).
    q = process variance, r = observation variance; r/q sets the
    smoothing horizon. Sequential recursion in applyInPandas (the
    `holt_linear` design point); constants are pre-folded IEEE
    values so the driver's recursive-CTE oracle replays the identical
    op sequence bit-for-bit.

    Output: (source, bucket_s, val, level, gain, innovation)."""
    if q <= 0 or r <= 0:
        raise ValueError(f"q and r must be > 0, got {q}, {r}")
    q_, r_ = float(q), float(r)
    schema = (
        f"{source_col} string, {bucket_col} long, val double, "
        "level double, gain double, innovation double"
    )

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(bucket_col, ignore_index=True)
        zs = [float(v) for v in pdf[value_col]]
        if not zs:
            return pd.DataFrame(
                columns=[source_col, bucket_col, "val", "level", "gain", "innovation"]
            )
        xh, p = zs[0], r_
        levels, gains, innovs = [xh], [None], [None]
        for t in range(1, len(zs)):
            pp = p + q_
            k = pp / (pp + r_)
            innov = zs[t] - xh
            xh = xh + k * innov
            p = (1.0 - k) * pp
            levels.append(xh)
            gains.append(k)
            innovs.append(innov)
        return pd.DataFrame(
            {
                source_col: pdf[source_col],
                bucket_col: pdf[bucket_col],
                "val": zs,
                "level": levels,
                "gain": gains,
                "innovation": innovs,
            }
        )

    return bucketed.groupBy(source_col).applyInPandas(_run, schema=schema)
