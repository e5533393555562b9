"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship tier rollup on the deterministic synthetic
token table; ``queries``/``oracle_sql`` expose each implemented operator
over the shared testdata tables so the driver can DuckDB-verify them.

Conventions for oracle comparability:
- every computed column is aliased identically on both sides;
- timestamps are emitted as epoch-second BIGINTs (`bucket_s`) so the
  value-hash is engine-neutral;
- doubles are rounded to 6 dp on both sides to absorb summation-order ULPs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from numalogic_spark.functions import transforms as TX
from numalogic_spark.functions.exprs import round6
from numalogic_spark.operators.gapfill import gapfill_linear
from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused


def _r6(col: str | Column) -> Column:
    """`round6` of a column or column name: the cross-engine 6-dp rounding
    that every oracle replays as floor(x * 1000000 + 0.5) / 1000000.0."""
    return round6(F.col(col) if isinstance(col, str) else col)


EVENTS_CFG = RollupConfig(
    source_col="event_type", ts_col="ts", value_col="value",
    integral_values=False, decimal_sum=True,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _rounded_tier(tier_df: DataFrame) -> DataFrame:
    return tier_df.select(
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.col("count").alias("cnt"),
        _r6("n_tok_sum").alias("val_sum"),
        _r6("n_tok_mean").alias("val_mean"),
        _r6("n_tok_p95").alias("val_p95"),
        _r6("token_rate").alias("rate"),
    )


def _events_tier(spark: SparkSession, sf_dir: str, tier: str) -> DataFrame:
    """One tier of the events table: the fused derive filtered on ``tier``
    (the filter lands below the aggregate's exchange)."""
    tiers = rollup_tiers_fused(histogram(_events(spark, sf_dir), EVENTS_CFG, "minute"), EVENTS_CFG)
    return tiers.filter(F.col("tier") == tier)


def _q_rollup(tier: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _rounded_tier(_events_tier(spark, sf_dir, tier))

    return q


def _rollup_sql(unit: str, secs: int) -> str:
    return f"""
SELECT event_type AS source,
       CAST(epoch(date_trunc('{unit}', ts)) AS BIGINT) AS bucket_s,
       count(*) AS cnt,
       floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS val_sum,
       floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0 AS val_mean,
       floor((quantile_cont(value, 0.95)) * 1000000 + 0.5) / 1000000.0 AS val_p95,
       floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / {secs}.0) * 1000000 + 0.5) / 1000000.0 AS rate
FROM events
GROUP BY 1, 2
"""


def _q_rollup_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three tiers in one exchange + one window chain."""
    fused = rollup_tiers_fused(
        histogram(_events(spark, sf_dir), EVENTS_CFG, "minute"), EVENTS_CFG
    )
    return fused.select(
        "tier",
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.col("count").alias("cnt"),
        _r6("n_tok_sum").alias("val_sum"),
        _r6("n_tok_mean").alias("val_mean"),
        _r6("n_tok_p95").alias("val_p95"),
        _r6("token_rate").alias("rate"),
    )


def _rollup_fused_sql() -> str:
    from numalogic_spark.operators.rollup import TIERS

    return "\nUNION ALL\n".join(
        f"SELECT q.*, '{t}' AS tier FROM ({_rollup_sql(unit, secs)}) q"
        for t, (unit, secs, _) in TIERS.items()
    )


def _q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    gf = gapfill_linear(_events_tier(spark, sf_dir, "1m"), "1m")
    return gf.select(
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        _r6("count").alias("cnt"),
        _r6("n_tok_sum").alias("val_sum"),
        _r6("n_tok_mean").alias("val_mean"),
        "is_interpolated",
    )


_GAPFILL_SQL = """
WITH t AS (
  SELECT event_type AS source, date_trunc('minute', ts) AS b,
         CAST(count(*) AS DOUBLE) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS vsum
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT source, unnest(generate_series(min(b), max(b), INTERVAL 1 MINUTE)) AS b
  FROM t GROUP BY source
), j AS (
  SELECT s.source, s.b, t.cnt, t.vsum FROM spine s LEFT JOIN t ON s.source = t.source AND s.b = t.b
), w AS (
  SELECT source, b, cnt, vsum,
    epoch(b) AS ts_s,
    last_value(CASE WHEN cnt IS NOT NULL THEN epoch(b) END IGNORE NULLS)
      OVER (PARTITION BY source ORDER BY b ROWS UNBOUNDED PRECEDING) AS pts,
    first_value(CASE WHEN cnt IS NOT NULL THEN epoch(b) END IGNORE NULLS)
      OVER (PARTITION BY source ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nts,
    last_value(cnt IGNORE NULLS) OVER (PARTITION BY source ORDER BY b ROWS UNBOUNDED PRECEDING) AS pcnt,
    first_value(cnt IGNORE NULLS) OVER (PARTITION BY source ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ncnt,
    last_value(vsum IGNORE NULLS) OVER (PARTITION BY source ORDER BY b ROWS UNBOUNDED PRECEDING) AS pv,
    first_value(vsum IGNORE NULLS) OVER (PARTITION BY source ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM j
)
SELECT source, CAST(ts_s AS BIGINT) AS bucket_s,
  floor((CASE WHEN cnt IS NOT NULL THEN cnt
        ELSE pcnt + (ts_s - pts) * 1.0 / (nts - pts) * (ncnt - pcnt) END) * 1000000 + 0.5) / 1000000.0 AS cnt,
  floor((CASE WHEN cnt IS NOT NULL THEN vsum
        ELSE pv + (ts_s - pts) * 1.0 / (nts - pts) * (nv - pv) END) * 1000000 + 0.5) / 1000000.0 AS val_sum,
  floor((CASE WHEN cnt IS NOT NULL THEN vsum / cnt
        ELSE (pv / pcnt) + (ts_s - pts) * 1.0 / (nts - pts) * (nv / ncnt - pv / pcnt) END) * 1000000 + 0.5) / 1000000.0 AS val_mean,
  (cnt IS NULL) AS is_interpolated
FROM w
"""


def _q_log_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        _r6(TX.log_transform("value", 2.0)).alias("log_val"),
        _r6(TX.static_power_transform("value", 0.5, 1.0)).alias("pow_val"),
        _r6(TX.data_clipper("value", 10.0, 150.0)).alias("clip_val"),
    )


_LOG_SQL = """
SELECT event_id,
       floor((ln(value + 2.0)) * 1000000 + 0.5) / 1000000.0 AS log_val,
       floor((pow(value + 1.0, 0.5)) * 1000000 + 0.5) / 1000000.0 AS pow_val,
       floor((least(greatest(value, 10.0), 150.0)) * 1000000 + 0.5) / 1000000.0 AS clip_val
FROM events
"""


def _q_score_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        _r6(TX.tanh_norm(F.col("value") / 20.0)).alias("tanh_score"),
        _r6(TX.sigmoid_norm(F.col("value") / 20.0)).alias("sigmoid_score"),
        _r6(TX.static_threshold_score("value", 120.0)).alias("static_score"),
        _r6(TX.sigmoid_threshold_score(F.col("value") / 50.0, 2.0)).alias("sigthresh_score"),
    )


_SCORE_SQL = """
SELECT event_id,
       floor((10.0 * ((exp(2.0 * ((value / 20.0) / 10.0)) - 1.0) / (exp(2.0 * ((value / 20.0) / 10.0)) + 1.0))) * 1000000 + 0.5) / 1000000.0 AS tanh_score,
       floor((10.0 / (1.0 + exp(5.0 - 0.5 * (value / 20.0)))) * 1000000 + 0.5) / 1000000.0 AS sigmoid_score,
       floor((CASE WHEN value >= 120.0 THEN 10.0 ELSE 0.5 END) * 1000000 + 0.5) / 1000000.0 AS static_score,
       floor((10.0 / (1.0 + exp(least(greatest(-(5.0 * pi()) * (value / 50.0 - 2.0), -88.72), 88.72)))) * 1000000 + 0.5) / 1000000.0
         AS sigthresh_score
FROM events
"""


def _q_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    return df.select(
        "event_id",
        _r6(
            TX.difference_transform("value", order_by=["ts", "event_id"], partition_by=["user_id"])
        ).alias("dvalue"),
    )


_DIFF_SQL = """
WITH d AS (
  SELECT event_id,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
  FROM events
), e AS (
  SELECT event_id, coalesce(dv,
      first_value(dv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS dv
  FROM (SELECT e.event_id, e.user_id, e.ts, d.dv
        FROM events e JOIN d ON e.event_id = d.event_id)
)
SELECT event_id, floor((dv) * 1000000 + 0.5) / 1000000.0 AS dvalue FROM e
"""


def _q_ewm_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXP window aggregation (A7 closed form) over each series' last-12
    window — the reference's postprocess window-agg step
    (udfs/postprocess.py:398-418 with ExpMovingAverage)."""
    from numalogic_spark.functions.aggregators import window_agg_expr

    df = _events(spark, sf_dir)
    tail = TX.tail_n(df, 12, order_by=["ts", "event_id"], partition_by=["event_type"])
    wins = tail.groupBy(F.col("event_type").alias("source")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("w")
    )
    return wins.select(
        "source",
        _r6(window_agg_expr("w", "EXP", beta=0.6)).alias("ewm_agg"),
        _r6(window_agg_expr("w", "MEAN")).alias("mean_agg"),
        _r6(window_agg_expr("w", "MAX")).alias("max_agg"),
    )


_EWM_SQL = """
WITH t AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type AS source,
  floor((sum(pow(0.6, rn - 1) * value) * 0.4 / (1 - pow(0.6, count(*)))) * 1000000 + 0.5) / 1000000.0 AS ewm_agg,
  floor((sum(value) / count(*)) * 1000000 + 0.5) / 1000000.0 AS mean_agg,
  floor((max(value)) * 1000000 + 0.5) / 1000000.0 AS max_agg
FROM t WHERE rn <= 12
GROUP BY event_type
"""


def _dec_stats(df: DataFrame, by: str, col: str) -> DataFrame:
    """Per-group mean/std via exact decimal sums (order-independent, so the
    Spark result is bit-identical to the DuckDB oracle's)."""
    d = F.col(col).cast("decimal(20,4)")
    n = F.count(d)
    s1 = F.sum(d).cast("double")
    s2 = F.sum(d * d).cast("double")
    # greatest(...,0): constant series cancel to a tiny negative variance
    return df.groupBy(by).agg(
        (s1 / n).alias("mu"),
        F.sqrt(F.greatest(s2 / n - (s1 / n) * (s1 / n), F.lit(0.0))).alias("sigma"),
        n.alias("n"),
    )


def _q_tanh_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TanhScaler fit per series + transform (F5): broadcast fitted stats,
    0.5*(tanh(0.2*(x-μ)/σ)+1). Ref: transforms/_scaler.py:27-74."""
    df = _events(spark, sf_dir)
    stats = _dec_stats(df, "event_type", "value")
    out = df.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return out.select(
        "event_id",
        _r6(F.lit(0.5) * (F.tanh(F.lit(0.2) * z) + F.lit(1.0))).alias("tanh_scaled"),
        _r6(F.col("value") / F.greatest(F.col("mu") + 3.0 * F.col("sigma"), F.lit(0.0))).alias(
            "stddev_thr_score"
        ),
    )


_TANH_SCALER_SQL = """
WITH s AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS mu,
         sqrt(greatest(CAST(sum(CAST(value AS DECIMAL(20,4)) * CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)
              - (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value))
                * (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)), 0.0)) AS sigma
  FROM events GROUP BY event_type
)
SELECT e.event_id,
  floor((0.5 * ((exp(2.0 * (0.2 * (e.value - s.mu) / s.sigma)) - 1.0)
               / (exp(2.0 * (0.2 * (e.value - s.mu) / s.sigma)) + 1.0) + 1.0)) * 1000000 + 0.5) / 1000000.0
    AS tanh_scaled,
  floor((e.value / greatest(s.mu + 3.0 * s.sigma, 0.0)) * 1000000 + 0.5) / 1000000.0
    AS stddev_thr_score
FROM events e JOIN s ON e.event_type = s.event_type
"""


def _q_percentile_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PercentileScaler (F6) + MaxPercentileThreshold (F15) per series.
    Ref: transforms/_scaler.py:77-141, models/threshold/_median.py:13-66."""
    df = _events(spark, sf_dir)
    stats = df.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.percentile(F.col("value"), F.lit(0.99)).alias("hi"),
        F.greatest(F.percentile(F.col("value"), F.lit(0.96)), F.lit(1e-4)).alias("thr"),
        F.max("value").alias("mx"),
    )
    out = df.join(F.broadcast(stats), "event_type")
    hi = F.when(F.col("hi") - F.col("lo") <= F.lit(1e-2), F.col("mx")).otherwise(F.col("hi"))
    return out.select(
        "event_id",
        _r6((F.col("value") - F.col("lo")) / (hi - F.col("lo"))).alias("pct_scaled"),
        _r6(F.col("value") / F.col("thr")).alias("maxpct_score"),
    )


_PCT_SCALER_SQL = """
WITH s AS (
  SELECT event_type, min(value) AS lo, max(value) AS mx,
         quantile_cont(value, 0.99) AS hi,
         greatest(quantile_cont(value, 0.96), 0.0001) AS thr
  FROM events GROUP BY event_type
)
SELECT e.event_id,
  floor(((e.value - s.lo) / ((CASE WHEN s.hi - s.lo <= 0.01 THEN s.mx ELSE s.hi END) - s.lo)) * 1000000 + 0.5) / 1000000.0 AS pct_scaled,
  floor((e.value / s.thr) * 1000000 + 0.5) / 1000000.0 AS maxpct_score
FROM events e JOIN s ON e.event_type = s.event_type
"""


def _q_compress_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style codec gate: 1m tier → XOR/delta-of-delta blocks →
    decode → must equal the oracle's directly-computed tier. Proves the
    codec is bit-exact end-to-end through Spark."""
    from numalogic_spark.functions.compression import compress_tier, decompress_blocks

    blocks = compress_tier(_events_tier(spark, sf_dir, "1m"), "n_tok_mean")
    points = decompress_blocks(blocks)
    return points.select(
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        _r6("value").alias("val_mean"),
    )


_COMPRESS_SQL = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_s,
       floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0 AS val_mean
FROM events
GROUP BY 1, 2
"""


def _q_tail_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events(spark, sf_dir)
    out = TX.tail_n(df, 12, order_by=["ts", "event_id"], partition_by=["event_type"])
    return out.select("event_id", "event_type", _r6("value").alias("value"))


_TAIL_SQL = """
SELECT event_id, event_type, floor((value) * 1000000 + 0.5) / 1000000.0 AS value
FROM (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 12
"""


def _q_score_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 end-to-end scoring chain per series: stddev-threshold score →
    EXP window-agg (L=12) → tanh norm → static adjust. Fit stats via
    order-independent decimal sums for oracle determinism; the chain itself
    is the engine's expressions (window_agg_expr / tanh_norm / greatest)."""
    from pyspark.sql import Window

    from numalogic_spark.functions.aggregators import window_agg_expr

    L, beta = 12, 0.5
    df = _events(spark, sf_dir)
    stats = _dec_stats(df, "event_type", "value")
    scored = df.join(F.broadcast(stats), "event_type").withColumn(
        "s", F.col("value") / F.greatest(F.col("mu") + 3.0 * F.col("sigma"), F.lit(0.0))
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("wagg", window_agg_expr(F.collect_list("s").over(w.rowsBetween(-(L - 1), 0)), "EXP", beta))
        .filter(F.col("_rn") >= L)
    )
    return out.select(
        "event_id",
        _r6("wagg").alias("unified_raw"),
        _r6(TX.tanh_norm("wagg")).alias("unified_score"),
        _r6(F.greatest(TX.static_threshold_score("value", 150.0), TX.tanh_norm("wagg"))).alias(
            "adjusted_score"
        ),
    )


def _score_pipeline_sql() -> str:
    L, beta = 12, 0.5
    # oldest-first sum matches the Spark fold order exactly
    terms = " + ".join(f"pow({beta}, {L - 1 - j}) * lag(s, {L - 1 - j}) OVER w" for j in range(L))
    tanh = "((exp(2.0 * (wagg / 10.0)) - 1.0) / (exp(2.0 * (wagg / 10.0)) + 1.0))"
    return f"""
WITH st AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS mu,
         sqrt(greatest(CAST(sum(CAST(value AS DECIMAL(20,4)) * CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)
              - (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value))
                * (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)), 0.0)) AS sigma
  FROM events GROUP BY event_type
), sc AS (
  SELECT e.event_id, e.event_type, e.ts, e.value,
         e.value / greatest(st.mu + 3.0 * st.sigma, 0.0) AS s
  FROM events e JOIN st ON e.event_type = st.event_type
), agg AS (
  SELECT event_id, value,
         row_number() OVER w AS rn,
         (({terms}) * {1.0 - beta}) / (1.0 - pow({beta}, {L})) AS wagg
  FROM sc
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_id,
  floor((wagg) * 1000000 + 0.5) / 1000000.0 AS unified_raw,
  floor((10.0 * {tanh}) * 1000000 + 0.5) / 1000000.0 AS unified_score,
  floor((greatest(CASE WHEN value >= 150.0 THEN 10.0 ELSE 0.5 END, 10.0 * {tanh})) * 1000000 + 0.5) / 1000000.0 AS adjusted_score
FROM agg WHERE rn >= {L}
"""


def _q_multi_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-metric daily rollup over lineitem: quantity + extendedprice
    per (l_returnflag, ship day) through one unpivoted rollup."""
    from numalogic_spark.operators.rollup import RollupConfig, rollup_cascade_multi

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    tiers = rollup_cascade_multi(
        df.select("l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice"),
        ["l_quantity", "l_extendedprice"],
        RollupConfig(source_col="l_returnflag", ts_col="l_shipdate",
                     integral_values=False, decimal_sum=True),
    )
    t = tiers["1d"]
    return t.select(
        "source", "metric",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.col("count").alias("cnt"),
        _r6("n_tok_sum").alias("val_sum"),
        _r6("n_tok_mean").alias("val_mean"),
        _r6("n_tok_p95").alias("val_p95"),
    )


_MULTI_ROLLUP_SQL = """
WITH long AS (
  SELECT l_returnflag AS source, l_shipdate AS ts, 'l_quantity' AS metric, l_quantity AS v FROM lineitem
  UNION ALL
  SELECT l_returnflag, l_shipdate, 'l_extendedprice', l_extendedprice FROM lineitem
)
SELECT source, metric,
       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS bucket_s,
       count(*) AS cnt,
       floor((CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS val_sum,
       floor((CAST(sum(CAST(v AS DECIMAL(20,6))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0 AS val_mean,
       floor((quantile_cont(v, 0.95)) * 1000000 + 0.5) / 1000000.0 AS val_p95
FROM long
GROUP BY 1, 2, 3
"""


def _q_rollup_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 1m continuous aggregate expressed through the engine's SQL
    surface (spark.sql over a temp view) — Catalyst produces the same plan
    as the DataFrame path; proves the SQL front-end is first-class.

    p95 goes through the SAME histogram linear interpolation the DataFrame
    path uses (operators/rollup.py:89-102) — Spark's built-in `percentile`
    differs from quantile_cont by ULPs that cross the 6-dp rounding
    boundary, so the SQL surface states the interpolation explicitly."""
    _events(spark, sf_dir).createOrReplaceTempView("events_v")
    # NOTE: fractional literals are written with a D suffix — Spark SQL
    # parses bare `0.95` as DECIMAL and decimal arithmetic would silently
    # retype the whole output column away from DOUBLE.
    return spark.sql("""
        WITH h AS (
          SELECT event_type AS source, date_trunc('minute', ts) AS b,
                 value AS v, count(*) AS cnt,
                 sum(CAST(value AS DECIMAL(20,6))) AS vsum
          FROM events_v GROUP BY 1, 2, 3
        ), e AS (
          SELECT source, b, v, cnt, vsum,
                 sum(cnt) OVER (PARTITION BY source, b ORDER BY v) AS cum,
                 sum(cnt) OVER (PARTITION BY source, b) AS total
          FROM h
        ), p AS (
          SELECT source, b, v, cnt, vsum, cum, total,
                 CAST(floor(0.95D * CAST(total - 1 AS DOUBLE)) AS BIGINT) AS lo,
                 least(CAST(floor(0.95D * CAST(total - 1 AS DOUBLE)) AS BIGINT) + 1, total - 1) AS hi,
                 0.95D * CAST(total - 1 AS DOUBLE)
                   - CAST(CAST(floor(0.95D * CAST(total - 1 AS DOUBLE)) AS BIGINT) AS DOUBLE) AS frac
          FROM e
        )
        SELECT source, unix_timestamp(b) AS bucket_s,
               max(total) AS cnt,
               CAST(floor(CAST(sum(vsum) AS DOUBLE) * 1000000D + 0.5D) AS DOUBLE) / 1000000D AS val_sum,
               CAST(floor((max(CASE WHEN cum - cnt <= lo AND cum > lo THEN v END)
                      + max(frac) * (max(CASE WHEN cum - cnt <= hi AND cum > hi THEN v END)
                                     - max(CASE WHEN cum - cnt <= lo AND cum > lo THEN v END)))
                     * 1000000D + 0.5D) AS DOUBLE) / 1000000D AS val_p95
        FROM p
        GROUP BY source, b
    """)


_ROLLUP_SQL_API_ORACLE = """
SELECT event_type AS source,
       CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_s,
       count(*) AS cnt,
       floor(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS val_sum,
       floor(quantile_cont(value, 0.95) * 1000000 + 0.5) / 1000000.0 AS val_p95
FROM events
GROUP BY 1, 2
"""


def _q_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 strided windows (StreamingDataset semantics): per series the
    window count must be (n - L)//s + 1 and end timestamps land on rows
    L-1, L-1+s, ... — all SQL-checkable facts about the window kernel."""
    from numalogic_spark.operators.windows import sliding_windows

    L, S = 12, 4
    df = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), F.col("ts").alias("event_ts"),
        F.col("value").cast("float").alias("value"),
    )
    wins = sliding_windows(df, ["value"], seq_len=L, stride=S, source_col="source", ts_col="event_ts")
    return wins.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.unix_timestamp(F.min("end_ts")).alias("first_end_s"),
        F.unix_timestamp(F.max("end_ts")).alias("last_end_s"),
    )


_SLIDING_SQL = """
WITH r AS (
  SELECT event_type AS source, ts,
         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT source,
       CAST(floor((n - 12) / 4) + 1 AS BIGINT) AS n_windows,
       CAST(floor(epoch(min(CASE WHEN rn = 12 THEN ts END))) AS BIGINT) AS first_end_s,
       CAST(floor(epoch(min(CASE WHEN rn = 12 + 4 * (floor((n - 12) / 4)) THEN ts END))) AS BIGINT) AS last_end_s
FROM r
WHERE n >= 12
GROUP BY source, n
"""


def _q_sliding_window_salted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 windows through the SALTED path (chunked parallel windowing of a
    single series with boundary-row replication + distributed ranking) —
    byte-identical semantics to `sliding_window_stats`, so it shares that
    query's oracle. chunk_rows=257 at sf0.01 forces many chunks per series
    (~8 per 2k-row series), exercising the replication/fix-up machinery
    under the driver's hash gate, not just pytest."""
    from numalogic_spark.operators.windows import sliding_windows_salted

    L, S = 12, 4
    df = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), F.col("ts").alias("event_ts"),
        F.col("value").cast("float").alias("value"),
    )
    wins = sliding_windows_salted(
        df, ["value"], seq_len=L, stride=S, chunk_rows=257,
        source_col="source", ts_col="event_ts",
    )
    return wins.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.unix_timestamp(F.min("end_ts")).alias("first_end_s"),
        F.unix_timestamp(F.max("end_ts")).alias("last_end_s"),
    )


def _q_ewm_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 EWM smoothing, windowed variant (trailing L=12, bias-corrected) —
    bounded state per series, oracle-exact via lag expansion. The
    full-history pandas-parity `ewm_smooth` stays pytest-gated (float32
    recursion has no SQL form)."""
    from numalogic_spark.operators.windows import ewm_smooth_windowed

    df = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        "value",
    )
    out = ewm_smooth_windowed(
        df, "value", seq_len=12, beta=0.5, source_col="source",
        order_cols=["ts_s", "event_id"], out_col="ewm_value",
    )
    return out.select("source", "ts_s", "event_id", _r6("ewm_value").alias("ewm_value"))


def _ewm_smooth_sql(seq_len: int = 12, beta: float = 0.5) -> str:
    # oldest-first term order matches the engine's fold exactly; missing
    # lags coalesce to 0 (adding leading zeros is float-exact)
    terms = " + ".join(
        f"pow({beta}, {d}) * coalesce(lag(value, {d}) OVER w, 0.0)"
        for d in range(seq_len - 1, -1, -1)
    )
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, value,
         row_number() OVER w AS rn,
         ({terms}) AS wsum
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
)
SELECT source, ts_s, event_id,
       floor((wsum * {1.0 - beta} / (1.0 - pow({beta}, least(rn, {seq_len})))) * 1000000 + 0.5) / 1000000.0 AS ewm_value
FROM r
"""


def _q_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 Mahalanobis threshold per series over a 2-feature matrix — the
    d=2 closed-form expression lowering (no Python, oracle-exact); the
    general-d pinv kernel path stays pytest-gated vs numpy.

    Features are integer-quantized engineered columns (2dp-scaled value and
    its mod-1000 component) so every covariance moment is an exact integer
    sum on both engines."""
    from numalogic_spark.functions.scalers import mahalanobis_scores_2f

    df = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).alias("f0"),
    ).withColumn("f1", F.col("f0") % F.lit(1000))
    out = mahalanobis_scores_2f(df, "f0", "f1", by="source", keep_cols=["ts_s", "event_id"])
    return out.select(
        "source", "ts_s", "event_id",
        _r6("md").alias("md"), _r6("md_score").alias("md_score"), "md_pred",
    )


def _mahalanobis_sql(max_outlier_prob: float = 0.1) -> str:
    import math

    k = repr(1.0 / math.sqrt(max_outlier_prob))
    return f"""
WITH f AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS f0
  FROM events
), f2 AS (
  SELECT source, ts_s, event_id, f0, f0 % 1000 AS f1 FROM f
), st AS (
  SELECT source,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(f0) AS DOUBLE) AS s1,
         CAST(sum(f1) AS DOUBLE) AS s2,
         CAST(sum(f0 * f0) AS DOUBLE) AS s11,
         CAST(sum(f0 * f1) AS DOUBLE) AS s12,
         CAST(sum(f1 * f1) AS DOUBLE) AS s22
  FROM f2 GROUP BY source HAVING count(*) >= 2
), md_t AS (
  SELECT f2.source, f2.ts_s, f2.event_id,
         CASE WHEN (s11 - s1 * s1 / n) / (n - 1.0) * ((s22 - s2 * s2 / n) / (n - 1.0))
                   - (s12 - s1 * s2 / n) / (n - 1.0) * ((s12 - s1 * s2 / n) / (n - 1.0)) <= 0.0
              THEN 0.0
              ELSE sqrt(greatest(
                ((CAST(f0 AS DOUBLE) - s1 / n) * (CAST(f0 AS DOUBLE) - s1 / n) * ((s22 - s2 * s2 / n) / (n - 1.0))
                 - 2.0 * (CAST(f0 AS DOUBLE) - s1 / n) * (CAST(f1 AS DOUBLE) - s2 / n) * ((s12 - s1 * s2 / n) / (n - 1.0))
                 + (CAST(f1 AS DOUBLE) - s2 / n) * (CAST(f1 AS DOUBLE) - s2 / n) * ((s11 - s1 * s1 / n) / (n - 1.0)))
                / ((s11 - s1 * s1 / n) / (n - 1.0) * ((s22 - s2 * s2 / n) / (n - 1.0))
                   - (s12 - s1 * s2 / n) / (n - 1.0) * ((s12 - s1 * s2 / n) / (n - 1.0))), 0.0))
         END AS md
  FROM f2 JOIN st ON f2.source = st.source
), q AS (
  SELECT source, ts_s, event_id, md, CAST(floor(md * 1000000.0 + 0.5) AS BIGINT) AS qv FROM md_t
), ts2 AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS qn,
         CAST(sum(qv) AS DOUBLE) AS q1, CAST(sum(qv * qv) AS DOUBLE) AS q2
  FROM q GROUP BY source
)
SELECT q.source, q.ts_s, q.event_id,
       floor(md * 1000000 + 0.5) / 1000000.0 AS md,
       floor((md / greatest((q1 / qn + {k} * sqrt(greatest(q2 / qn - (q1 / qn) * (q1 / qn), 0.0))) / 1000000.0, 1e-12)) * 1000000 + 0.5) / 1000000.0 AS md_score,
       CAST(md >= (q1 / qn + {k} * sqrt(greatest(q2 / qn - (q1 / qn) * (q1 / qn), 0.0))) / 1000000.0 AS BIGINT) AS md_pred
FROM q JOIN ts2 ON q.source = ts2.source
"""


def _q_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline backtest (PromBacktester analog): thresholds fit on the head
    67% of each series (exact-decimal moments), tail scored through the
    window pipeline — fully DuckDB-oracle-gated by composing the split SQL
    with the score-pipeline lag expansion."""
    from numalogic_spark.operators.backtest import backtest
    from numalogic_spark.operators.pipeline import ScoreConfig

    df = _events(spark, sf_dir).select("event_type", "ts", "event_id", F.col("value").alias("value"))
    out = backtest(
        df,
        ScoreConfig(metrics=["value"], seq_len=12, static_limit=150.0, decimal_fit=True),
        test_ratio=0.33,
        min_train_size=30,
        source_col="event_type",
        ts_col="ts",
        order_cols=["ts", "event_id"],
    )
    return out.select("event_type", F.unix_timestamp("end_ts").alias("end_s"),
                      _r6("unified_score").alias("unified_score"),
                      _r6("adjusted_score").alias("adjusted_score"))


def _backtest_sql(seq_len: int = 12, beta: float = 0.5, test_ratio: float = 0.33,
                  min_train: int = 30, static_limit: float = 150.0) -> str:
    terms = " + ".join(
        f"pow({beta}, {seq_len - 1 - j}) * lag(s, {seq_len - 1 - j}) OVER w"
        for j in range(seq_len)
    )
    tanh = "((exp(2.0 * (wagg / 10.0)) - 1.0) / (exp(2.0 * (wagg / 10.0)) + 1.0))"
    return f"""
WITH elig AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1 HAVING count(*) >= {min_train}
), r AS (
  SELECT e.event_id, e.event_type, e.ts, e.value, elig.n,
         row_number() OVER (PARTITION BY e.event_type ORDER BY e.ts DESC, e.event_id DESC) AS rnd
  FROM events e JOIN elig ON e.event_type = elig.event_type
), st AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS mu,
         sqrt(greatest(CAST(sum(CAST(value AS DECIMAL(20,4)) * CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)
              - (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value))
                * (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)), 0.0)) AS sigma
  FROM r WHERE rnd > floor(n * {test_ratio}) GROUP BY event_type
), sc AS (
  SELECT t.event_id, t.event_type, t.ts, t.value,
         t.value / greatest(greatest(st.mu + 3.0 * st.sigma, 0.0), 1e-12) AS s
  FROM (SELECT * FROM r WHERE rnd <= floor(n * {test_ratio})) t
  JOIN st ON t.event_type = st.event_type
), agg AS (
  SELECT event_id, event_type, ts, value,
         row_number() OVER w AS rn,
         (({terms}) * {1.0 - beta}) / (1.0 - pow({beta}, {seq_len})) AS wagg
  FROM sc
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS end_s,
  floor((10.0 * {tanh}) * 1000000 + 0.5) / 1000000.0 AS unified_score,
  floor((greatest(CASE WHEN value >= {static_limit} THEN 10.0 ELSE 0.5 END, 10.0 * {tanh})) * 1000000 + 0.5) / 1000000.0 AS adjusted_score
FROM agg WHERE rn >= {seq_len}
"""


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A3 pivot: long events → wide per-minute metric matrix (the
    reference's pivot_table / multi-metric join shape)."""
    from numalogic_spark.operators.reshape import pivot_metrics

    df = _events(spark, sf_dir).select(
        F.unix_timestamp(F.date_trunc("minute", "ts")).alias("bucket_s"),
        "event_type",
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    types = ["click", "error", "purchase", "signup", "view"]
    wide = pivot_metrics(df, ["bucket_s"], "event_type", "v", agg="sum", values=types)
    return wide.select("bucket_s", *[_r6(F.col(t).cast("double")).alias(t) for t in types])


_PIVOT_SQL = """
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_s,
  floor((CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS click,
  floor((CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS error,
  floor((CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS purchase,
  floor((CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS signup,
  floor((CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS view
FROM events GROUP BY 1
"""


def _q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 tail split: validation = last 20% of rows per series."""
    from numalogic_spark.operators.reshape import train_val_split

    df = _events(spark, sf_dir)
    _train, val = train_val_split(
        df, 0.2, source_col="event_type", ts_col="ts", order_cols=["ts", "event_id"]
    )
    return val.select("event_id", "event_type")


_SPLIT_SQL = """
SELECT event_id, event_type
FROM (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
) WHERE rn <= floor(n * 0.2)
"""


def _q_prometheus_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 Prometheus connector frame: events reshaped into the connector's
    response shape (metric rows carrying (ts, value-string) arrays), then
    normalized through read_prometheus_frame — explode → float cast →
    multi-metric columns → per-timestamp mean (prometheus.py:113-118,
    193-205)."""
    from numalogic_spark.sources.connectors import read_prometheus_frame

    types = ["click", "error", "purchase", "signup", "view"]
    resp = _events(spark, sf_dir).groupBy(F.col("event_type").alias("metric_name")).agg(
        F.collect_list(
            F.struct(
                F.unix_timestamp("ts").alias("ts"),
                F.col("value").cast("string").alias("value"),
            )
        ).alias("values")
    )
    wide = read_prometheus_frame(resp, types, aggregate=True, decimal_mean=True)
    return wide.select(
        F.unix_timestamp("timestamp").alias("ts_s"),
        *[_r6(F.col(t)).alias(t) for t in types],
    )


def _prom_frame_sql() -> str:
    # decimal-sum mean mirrors read_prometheus_frame(decimal_mean=True):
    # plain double avg() is FP-order-dependent across engines
    cols = ",\n  ".join(
        f"floor((CAST(sum(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(20,6)) END) AS DOUBLE)"
        f" / count(CASE WHEN event_type = '{t}' THEN value END)) * 1000000 + 0.5) / 1000000.0 AS {t}"
        for t in ["click", "error", "purchase", "signup", "view"]
    )
    return f"""
SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
  {cols}
FROM events GROUP BY 1
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: every rollup tier of the synthetic token table at smoke
    scale, as one frame (the engine's continuous aggregates)."""
    from numalogic_spark.datagen import gen_tokens_spark

    df = gen_tokens_spark(spark, 10_000, n_sources=20)
    out = rollup_tiers_fused(histogram(df, RollupConfig(), "minute"), RollupConfig())
    return out.select(
        "source", F.unix_timestamp("bucket_ts").alias("bucket_s"), "tier",
        "count", "n_tok_sum", "n_tok_mean", "n_tok_p95", "token_rate",
    )


def _evt_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as a per-series frame: source=event_type, integral-second
    ts + event_id ordering (the ewm_smooth ordering discipline)."""
    return _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        "value",
    )


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h-bucketed per-source value sums (decimal-exact, 6-dp output) —
    the regular-series input for Holt / Kalman."""
    return (
        _evt_series(spark, sf_dir)
        .groupBy(
            "source",
            ((F.col("ts_s") / F.lit(3600)).cast("long") * F.lit(3600)).alias("bucket_s"),
        )
        .agg(F.sum(F.col("value").cast("decimal(15,6)")).cast("double").alias("_v"))
        .select("source", "bucket_s", _r6(F.col("_v")).alias("val"))
    )


_HOURLY_SQL = """
  SELECT event_type AS source,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_s,
         floor(CAST(sum(CAST(value AS DECIMAL(15,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS val
  FROM events GROUP BY 1, 2
"""


def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing on the hourly series —
    sequential level/trend recursion in applyInPandas, 6-dp outputs."""
    from numalogic_spark.operators.forecast import holt_linear

    out = holt_linear(_hourly_series(spark, sf_dir), alpha=0.5, beta=0.25)
    return out.select(
        "source", "bucket_s", "val",
        _r6("level").alias("level"),
        _r6("trend").alias("trend"),
        _r6("fitted").alias("fitted"),
    )


def _holt_sql(alpha: float = 0.5, beta: float = 0.25) -> str:
    """Recursive-CTE replay of the Holt recursion: one iteration per time
    step across all series at once, the SAME pre-folded IEEE constants
    (repr() round-trip) and expression shapes as the python loop, so
    651 chained double ops land bit-identical."""
    a, oa = repr(float(alpha)), repr(1.0 - float(alpha))
    b, ob = repr(float(beta)), repr(1.0 - float(beta))
    l_new = f"{a} * i.val + {oa} * (r.l + r.b)"
    return f"""
WITH RECURSIVE hourly AS ({_HOURLY_SQL}),
ix AS (
  SELECT source, bucket_s, val,
         row_number() OVER w AS pos,
         count(*) OVER (PARTITION BY source) AS n,
         lead(val) OVER w AS nxt
  FROM hourly
  WINDOW w AS (PARTITION BY source ORDER BY bucket_s)
),
rec AS (
  SELECT source, pos, bucket_s, val,
         val AS l, nxt - val AS b, CAST(NULL AS DOUBLE) AS fitted
  FROM ix WHERE pos = 1 AND n >= 2
  UNION ALL
  SELECT i.source, i.pos, i.bucket_s, i.val,
         {l_new} AS l,
         {b} * (({l_new}) - r.l) + {ob} * r.b AS b,
         r.l + r.b AS fitted
  FROM rec r JOIN ix i ON i.source = r.source AND i.pos = r.pos + 1
)
SELECT source, bucket_s, val,
       floor(l * 1000000 + 0.5) / 1000000.0 AS level,
       floor(b * 1000000 + 0.5) / 1000000.0 AS trend,
       floor(fitted * 1000000 + 0.5) / 1000000.0 AS fitted
FROM rec
"""


_KF_Q, _KF_R = 1.0, 4.0


def _q_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter on the hourly series — adaptive-gain
    smoothing (applyInPandas recursion, recursive-CTE oracle)."""
    from numalogic_spark.operators.forecast import kalman_level

    out = kalman_level(_hourly_series(spark, sf_dir), q=_KF_Q, r=_KF_R)
    return out.select(
        "source", "bucket_s", "val",
        _r6("level").alias("level"),
        _r6("gain").alias("gain"),
        _r6("innovation").alias("innovation"),
    )


def _kalman_sql(q: float = _KF_Q, r: float = _KF_R) -> str:
    qs, rs = repr(float(q)), repr(float(r))
    k_expr = f"(r.p + {qs}) / ((r.p + {qs}) + {rs})"
    innov = "(i.val - r.xh)"
    return f"""
WITH RECURSIVE hourly AS ({_HOURLY_SQL}),
ix AS (
  SELECT source, bucket_s, val,
         row_number() OVER (PARTITION BY source ORDER BY bucket_s) AS pos
  FROM hourly
),
rec AS (
  SELECT source, pos, bucket_s, val,
         -- CAST: a bare {rs} literal is DECIMAL(2,1) in DuckDB and the
         -- whole P recursion would run in scale-1 decimal arithmetic
         val AS xh, CAST({rs} AS DOUBLE) AS p,
         CAST(NULL AS DOUBLE) AS gain, CAST(NULL AS DOUBLE) AS innov
  FROM ix WHERE pos = 1
  UNION ALL
  SELECT i.source, i.pos, i.bucket_s, i.val,
         r.xh + {k_expr} * {innov} AS xh,
         (1.0 - {k_expr}) * (r.p + {qs}) AS p,
         {k_expr} AS gain,
         {innov} AS innov
  FROM rec r JOIN ix i ON i.source = r.source AND i.pos = r.pos + 1
)
SELECT source, bucket_s, val,
       floor(xh * 1000000 + 0.5) / 1000000.0 AS level,
       floor(gain * 1000000 + 0.5) / 1000000.0 AS gain,
       floor(innov * 1000000 + 0.5) / 1000000.0 AS innovation
FROM rec
"""


def _q_sklearn_scalers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four sklearn PreprocessFactory scalers (Standard/MinMax/MaxAbs/
    Robust, reference config/factory.py:45,59-63) fit per series and
    applied through the engine's affine-scaler machinery: four model-sized
    fitted frames, broadcast-joined back, one projection each. Standard
    uses decimal-sum moments (order-independent exactness); MinMax/MaxAbs
    stats are exact extrema; Robust uses exact linear-interp percentiles."""
    from numalogic_spark.functions.scalers import (
        fit_maxabs_scaler,
        fit_minmax_scaler,
        fit_robust_scaler,
        fit_standard_scaler,
        transform_affine_scaler,
    )

    df = _events(spark, sf_dir).select("event_id", "event_type", "value")
    by = ["event_type"]
    out = df
    for fit, kw, sfx in (
        (fit_standard_scaler, {"decimal_stats": True}, "__std"),
        (fit_minmax_scaler, {}, "__mm"),
        (fit_maxabs_scaler, {}, "__ma"),
        (fit_robust_scaler, {}, "__rb"),
    ):
        stats = fit(df, ["value"], by=by, **kw)
        out = transform_affine_scaler(out, stats, ["value"], by=by, suffix=sfx)
    return out.select(
        "event_id",
        _r6("value__std").alias("std_scaled"),
        _r6("value__mm").alias("minmax_scaled"),
        _r6("value__ma").alias("maxabs_scaled"),
        _r6("value__rb").alias("robust_scaled"),
    )


_SKLEARN_SCALERS_SQL = """
WITH s AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value) AS mu,
         sqrt(greatest(CAST(sum(CAST(value AS DECIMAL(20,4)) * CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)
              - (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value))
                * (CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) / count(value)), 0.0)) AS sigma,
         min(value) AS mn, max(value) AS mx,
         max(abs(value)) AS mab,
         quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
  FROM events GROUP BY event_type
)
SELECT e.event_id,
  floor(((e.value - s.mu) / (CASE WHEN s.sigma = 0.0 THEN 1.0 ELSE s.sigma END) + 0.0) * 1000000 + 0.5) / 1000000.0 AS std_scaled,
  floor(((e.value - s.mn) / ((CASE WHEN s.mx - s.mn = 0.0 THEN 1.0 ELSE s.mx - s.mn END) / 1.0) + 0.0) * 1000000 + 0.5) / 1000000.0 AS minmax_scaled,
  floor(((e.value - 0.0) / (CASE WHEN s.mab = 0.0 THEN 1.0 ELSE s.mab END) + 0.0) * 1000000 + 0.5) / 1000000.0 AS maxabs_scaled,
  floor(((e.value - s.med) / (CASE WHEN s.iqr = 0.0 THEN 1.0 ELSE s.iqr END) + 0.0) * 1000000 + 0.5) / 1000000.0 AS robust_scaled
FROM events e JOIN s ON e.event_type = s.event_type
"""


def _q_robust_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustMahalanobisThreshold (ThresholdFactory, reference
    _mahalanobis.py:188-230) per series over the same integer-quantized
    2-feature matrix as mahalanobis_events: deterministic-MCD fit in one
    applyInPandas task per series, relational d²-term scoring. The oracle
    replays the identical numpy fit (shared robust_mahalanobis_fit_np)
    and embeds the fitted location/precision/threshold as SQL literals —
    the IVF-codebook discipline."""
    from numalogic_spark.functions.robust import (
        fit_robust_mahalanobis,
        score_robust_mahalanobis,
    )

    df = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).alias("f0"),
    ).withColumn("f1", F.col("f0") % F.lit(1000))
    stats = fit_robust_mahalanobis(
        df, ["f0", "f1"], by=["source"], order_by=["event_id"], seed=42
    )
    out = score_robust_mahalanobis(df, stats, ["f0", "f1"], by=["source"])
    return out.select(
        "source", "event_id",
        _r6("md").alias("md"), _r6("md_score").alias("md_score"), "md_pred",
    )


def _robust_mahalanobis_sql() -> str:
    """Replay the deterministic MCD fit per event_type on the driver's
    oracle-scale data (sf0.01) with the SAME numpy function
    the Spark kernel runs, then score in SQL with the fitted stats as
    literals — the i-major term order matches score_robust_mahalanobis
    exactly, so the doubles are bit-identical."""
    import duckdb as _dd
    import numpy as _np

    from numalogic_spark.functions.robust import robust_mahalanobis_fit_np

    rows = _dd.sql(
        "SELECT event_type, event_id, "
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS f0 "
        "FROM '/root/testdata/sf0.01/events.parquet' ORDER BY event_type, event_id"
    ).fetchall()
    groups: dict[str, list[tuple[int, int]]] = {}
    for et, _eid, f0 in rows:
        groups.setdefault(et, []).append((f0, f0 % 1000))
    cases = {"loc0": [], "loc1": [], "p": [[] for _ in range(4)], "thr": []}
    keys = sorted(groups)
    for et in keys:
        x = _np.array(groups[et], dtype=_np.float64)
        loc, prec, thr = robust_mahalanobis_fit_np(x, seed=42)
        cases["loc0"].append((et, repr(float(loc[0]))))
        cases["loc1"].append((et, repr(float(loc[1]))))
        for i in range(4):
            cases["p"][i].append((et, repr(float(prec.reshape(-1)[i]))))
        cases["thr"].append((et, repr(float(thr))))

    def case(pairs: list) -> str:
        whens = " ".join(f"WHEN source = '{et}' THEN {v}" for et, v in pairs)
        return f"(CASE {whens} END)"

    loc0, loc1 = case(cases["loc0"]), case(cases["loc1"])
    p00, p01, p10, p11 = (case(cases["p"][i]) for i in range(4))
    thr = case(cases["thr"])
    dc0 = f"(CAST(f0 AS DOUBLE) - {loc0})"
    dc1 = f"(CAST(f1 AS DOUBLE) - {loc1})"
    md2 = (
        f"{p00} * {dc0} * {dc0} + {p01} * {dc0} * {dc1} "
        f"+ {p10} * {dc1} * {dc0} + {p11} * {dc1} * {dc1}"
    )
    return f"""
WITH f AS (
  SELECT event_type AS source, event_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS f0
  FROM events
), f2 AS (
  SELECT source, event_id, f0, f0 % 1000 AS f1 FROM f
), md AS (
  SELECT source, event_id, sqrt(greatest({md2}, 0.0)) AS md, {thr} AS thr
  FROM f2
)
SELECT source, event_id,
       floor(md * 1000000 + 0.5) / 1000000.0 AS md,
       floor((md / greatest(thr, 1e-12)) * 1000000 + 0.5) / 1000000.0 AS md_score,
       CAST(CASE WHEN md >= thr THEN 1 ELSE 0 END AS BIGINT) AS md_pred
FROM md
"""


def _seasonal_naive_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h decimal-mean buckets per series with 6dp-floored values (the
    pre-rounding keeps downstream decimal casts tie-free cross-engine),
    then the time-shifted seasonal-naive forecast (t - 24h equi-join)."""
    from numalogic_spark.operators.forecast import seasonal_naive

    df = _events(spark, sf_dir)
    b = df.groupBy(
        F.col("event_type").alias("source"),
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
    ).agg(
        _r6(
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("val_mean")
    )
    return seasonal_naive(b, 86400, value_col="val_mean")


def _q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast (daily period over hourly buckets): the
    Spark-native form of SeasonalNaiveForecaster (reference
    models/forecast/variants/naive.py:69-135) — forecast(t) = value(t-24h)
    via an equi-join on the shifted bucket (no per-series sort; gaps yield
    NULL forecasts instead of lagging across them)."""
    out = _seasonal_naive_base(spark, sf_dir)
    return out.select(
        "source",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.col("val_mean").alias("actual"),
        _r6("forecast").alias("forecast"),
        _r6("abs_err").alias("abs_err"),
    )


_SEASONAL_NAIVE_BASE_SQL = """
  SELECT event_type AS source, date_trunc('hour', ts) AS bucket,
         floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0 AS val_mean
  FROM events GROUP BY 1, 2
"""

_SEASONAL_NAIVE_SQL = f"""
WITH b AS ({_SEASONAL_NAIVE_BASE_SQL})
SELECT a.source, CAST(epoch(a.bucket) AS BIGINT) AS bucket_s,
       a.val_mean AS actual,
       floor(p.val_mean * 1000000 + 0.5) / 1000000.0 AS forecast,
       floor(abs(a.val_mean - p.val_mean) * 1000000 + 0.5) / 1000000.0 AS abs_err
FROM b a LEFT JOIN b p
  ON p.source = a.source AND p.bucket + INTERVAL 1 DAY = a.bucket
"""


def _q_forecast_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series forecast quality (MAE/RMSE/R²) of the seasonal-naive
    forecast, as ONE decimal-sum aggregation (operators/forecast.py
    forecast_metrics)."""
    from numalogic_spark.operators.forecast import forecast_metrics

    scored = _seasonal_naive_base(spark, sf_dir)
    m = forecast_metrics(scored, value_col="val_mean")
    return m.select(
        "source", "n", _r6("mae").alias("mae"), _r6("rmse").alias("rmse"),
        _r6("r2").alias("r2"),
    )


_FORECAST_METRICS_SQL = f"""
WITH b AS ({_SEASONAL_NAIVE_BASE_SQL}),
j AS (
  SELECT a.source, CAST(a.val_mean AS DECIMAL(15,6)) AS y,
         CAST(p.val_mean AS DECIMAL(15,6)) AS f
  FROM b a JOIN b p
    ON p.source = a.source AND p.bucket + INTERVAL 1 DAY = a.bucket
), agg AS (
  SELECT source, count(*) AS n,
         CAST(sum(abs(y - f)) AS DOUBLE) AS sae,
         CAST(sum((y - f) * (y - f)) AS DOUBLE) AS sse,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM j GROUP BY source
)
SELECT source, n,
  floor((sae / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS mae,
  floor(sqrt(sse / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS rmse,
  floor((CASE WHEN syy - (sy * sy) / CAST(n AS DOUBLE) <= 0.0 THEN 0.0
              ELSE 1.0 - sse / (syy - (sy * sy) / CAST(n AS DOUBLE)) END) * 1000000 + 0.5) / 1000000.0 AS r2
FROM agg
"""


def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style counter semantics: a wrapped cumulative counter is
    synthesized per series (cumsum of value mod 10000 — deterministic in
    both engines), then increase / rate / resets are computed with
    counter-RESET correction (operators/promql.py)."""
    from numalogic_spark.operators.promql import counter_rate

    base = _evt_series(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("ts_s", "event_id")
    ctr = base.withColumn(
        "counter",
        (F.sum(F.col("value").cast("decimal(15,6)")).over(w) % F.lit(10000)).cast(
            "decimal(15,6)"
        ),
    )
    out = counter_rate(ctr, bucket_s=3600, value_col="counter")
    return out.select(
        "source",
        "bucket_s",
        "n_samples",
        _r6("increase").alias("increase"),
        "rate_per_s",
        "resets",
    )


_COUNTER_RATE_SQL = f"""
WITH b AS (
  SELECT event_type AS source,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
         CAST(value AS DECIMAL(15,6)) AS vd
  FROM events
), c AS (
  SELECT source, ts_s, event_id,
         CAST(sum(vd) OVER w % 10000 AS DECIMAL(15,6)) AS counter
  FROM b WINDOW w AS (PARTITION BY source ORDER BY ts_s, event_id)
), d AS (
  SELECT source, ts_s, counter, lag(counter) OVER w AS prev
  FROM c WINDOW w AS (PARTITION BY source ORDER BY ts_s, event_id)
), e AS (
  SELECT source, ts_s,
         CASE WHEN prev IS NULL THEN NULL
              WHEN counter - prev >= 0 THEN CAST(counter - prev AS DECIMAL(16,6))
              ELSE CAST(counter AS DECIMAL(16,6)) END AS adjusted,
         CASE WHEN prev IS NOT NULL AND counter - prev < 0 THEN 1 ELSE 0 END AS is_reset
  FROM d
)
SELECT source,
       ts_s - ts_s % 3600 AS bucket_s,
       count(*) AS n_samples,
       floor(CAST(coalesce(sum(adjusted), 0) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS increase,
       floor(CAST(coalesce(sum(adjusted), 0) AS DOUBLE) / 3600.0 * 1000000 + 0.5) / 1000000.0 AS rate_per_s,
       CAST(sum(is_reset) AS BIGINT) AS resets
FROM e GROUP BY 1, 2
"""


def _q_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual downsample (Jugel et al. VLDB'14): first/last/min/max
    points per (series, hour pixel) in one struct-extreme aggregation."""
    from numalogic_spark.operators.promql import m4_downsample

    return m4_downsample(_evt_series(spark, sf_dir), bucket_s=3600)


_M4_SQL = """
WITH b AS (
  SELECT event_type AS source,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, value
  FROM events
)
SELECT source,
       ts_s - ts_s % 3600 AS bucket_s,
       count(*) AS n,
       (min({'t': ts_s, 'i': event_id, 'v': value})).t AS t_first,
       (min({'t': ts_s, 'i': event_id, 'v': value})).v AS v_first,
       (max({'t': ts_s, 'i': event_id, 'v': value})).t AS t_last,
       (max({'t': ts_s, 'i': event_id, 'v': value})).v AS v_last,
       (min({'v': value, 't': ts_s, 'i': event_id})).t AS t_min,
       (min({'v': value, 't': ts_s, 'i': event_id})).v AS v_min,
       (max({'v': value, 't': ts_s, 'i': event_id})).t AS t_max,
       (max({'v': value, 't': ts_s, 'i': event_id})).v AS v_max
FROM b GROUP BY 1, 2
"""

_RETENTION_POLICY = {"1m": 3 * 86400, "1h": 10 * 86400, "1d": None}


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-ladder audit over the fused tiers: per tier the
    kept/expired split against its horizon, clocked off the data
    watermark (operators/retention.py)."""
    from numalogic_spark.operators.retention import retention_summary

    fused = rollup_tiers_fused(
        histogram(_events(spark, sf_dir), EVENTS_CFG, "minute"), EVENTS_CFG
    )
    return retention_summary(fused, _RETENTION_POLICY)


def _retention_sql() -> str:
    keep = (
        "CASE tier WHEN '1m' THEN now_s - bucket_s < 259200 "
        "WHEN '1h' THEN now_s - bucket_s < 864000 ELSE TRUE END"
    )
    return f"""
WITH t AS ({_rollup_fused_sql()}),
mx AS (SELECT max(bucket_s) AS now_s FROM t)
SELECT tier,
       CAST(CASE tier WHEN '1m' THEN 259200 WHEN '1h' THEN 864000 END AS BIGINT) AS horizon_s,
       CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(sum(CASE WHEN {keep} THEN 0 ELSE 1 END) AS BIGINT) AS expired,
       min(CASE WHEN {keep} THEN bucket_s END) AS min_kept_s,
       max(CASE WHEN {keep} THEN bucket_s END) AS max_kept_s
FROM t, mx GROUP BY tier
"""


def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB shape-preserving downsample to 20 points per series
    (operators/promql.py); the oracle replays the sequential bucket
    selection as a recursive CTE over per-bucket point lists."""
    from numalogic_spark.operators.promql import lttb_downsample

    return lttb_downsample(_evt_series(spark, sf_dir), threshold=20)


def _lttb_sql(t: int = 20) -> str:
    """Recursive-CTE replay of LTTB: bucket point-lists + next-bucket
    means precomputed; each recursion step picks the first-max-area
    point via list_transform/list_aggregate/list_position (scalar list
    functions — legal in a recursive member where aggregates are not).
    Doubles go through the identical expression shape as the numpy
    kernel; bucket means use exact integer sums (integral-second
    timestamps, 2-dp values scaled to cents — never half-integral, so
    DuckDB's round-half-away CAST and numpy's half-even rint agree)."""
    tm2 = t - 2
    area = (
        "list_transform(bb.pl, p -> abs((s.sx - bb.cx) * (p.y - s.sy)"
        " - (s.sx - p.x) * (bb.cy - s.sy)))"
    )
    return f"""
WITH RECURSIVE
b AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, value
  FROM events
),
pts AS (
  SELECT source, ts_s, value,
         row_number() OVER (PARTITION BY source ORDER BY ts_s, event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM b
),
big AS (SELECT DISTINCT source FROM pts WHERE n > {t}),
mid AS (
  SELECT p.source, p.ts_s, p.value, p.rn,
         CAST(((p.rn - 1) * {tm2}) // (p.n - 2) AS BIGINT) AS bk
  FROM pts p JOIN big USING (source)
  WHERE p.rn >= 1 AND p.rn <= p.n - 2
),
bl AS (
  SELECT source, bk,
         list({{'x': CAST(ts_s AS DOUBLE), 'y': value, 't': ts_s}} ORDER BY rn) AS pl,
         CAST(sum(ts_s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mx,
         CAST(sum(CAST(value * 100 AS BIGINT)) AS DOUBLE) / 100.0
           / CAST(count(*) AS DOUBLE) AS my
  FROM mid GROUP BY 1, 2
),
lastp AS (
  SELECT p.source, CAST(p.ts_s AS DOUBLE) AS lx, p.value AS ly
  FROM pts p JOIN big USING (source) WHERE p.rn = p.n - 1
),
blx AS (
  SELECT a.source, a.bk, a.pl,
         coalesce(nx.mx, l.lx) AS cx,
         coalesce(nx.my, l.ly) AS cy
  FROM bl a
  LEFT JOIN bl nx ON nx.source = a.source AND nx.bk = a.bk + 1
  JOIN lastp l ON l.source = a.source
),
sel AS (
  SELECT p.source, CAST(-1 AS BIGINT) AS bk, CAST(p.ts_s AS DOUBLE) AS sx,
         p.value AS sy, p.ts_s AS st
  FROM pts p JOIN big USING (source) WHERE p.rn = 0
  UNION ALL
  SELECT source, bk, (pick).x AS sx, (pick).y AS sy, (pick).t AS st FROM (
    SELECT s.source AS source, s.bk + 1 AS bk,
           bb.pl[list_position({area}, list_aggregate({area}, 'max'))] AS pick
    FROM sel s JOIN blx bb ON bb.source = s.source AND bb.bk = s.bk + 1
  )
)
SELECT source, bk + 1 AS sel_idx, st AS ts_s, sy AS value FROM sel
UNION ALL
SELECT p.source, CAST({t - 1} AS BIGINT) AS sel_idx, p.ts_s, p.value
FROM pts p JOIN big USING (source) WHERE p.rn = p.n - 1
UNION ALL
SELECT p.source, p.rn AS sel_idx, p.ts_s, p.value
FROM pts p WHERE p.n <= {t}
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of events per user (30 min gap): lag
    boundary flag + running-sum session ids off ONE sort, then a
    map-side-combinable per-session aggregate (operators/promql.py)."""
    from numalogic_spark.operators.promql import sessionize

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_timestamp("ts").alias("ts_s"), "event_id", "value"
    )
    return sessionize(ev, gap_s=1800, key_cols=("user_id",))


_SESSIONIZE_SQL = """
WITH b AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
         CAST(value AS DECIMAL(15,6)) AS vd
  FROM events
), f AS (
  SELECT user_id, ts_s, event_id, vd,
         CASE WHEN lag(ts_s) OVER w IS NULL
                OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS bnd
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
), s AS (
  SELECT user_id, ts_s, vd,
         sum(bnd) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM f
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ts_s) AS start_s, max(ts_s) AS end_s,
       count(*) AS n_events,
       max(ts_s) - min(ts_s) AS duration_s,
       CAST(sum(vd) AS DOUBLE) AS value_sum
FROM s GROUP BY 1, 2
"""


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join of click-sessions against error-sessions
    per user (grid-bucketed equi-join + dedup + exact verify — never the
    per-key cartesian; operators/joins.py). Oracle: DuckDB runs the
    plain range join over the same sessionized CTEs."""
    from numalogic_spark.operators.joins import interval_overlap_join
    from numalogic_spark.operators.promql import sessionize

    ev = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        "value",
    )

    def sessions(etype: str) -> DataFrame:
        # 12 h gap: per-user events sit hours apart at small SF, so a
        # 30-min gap would yield only single-event, never-overlapping
        # sessions (a vacuous join); 12 h chains them into multi-day
        # sessions that genuinely interleave across types
        return sessionize(
            ev.filter(F.col("event_type") == etype), gap_s=43200,
            key_cols=("user_id",), value_col=None,
        ).select("user_id", "session_idx", "start_s", "end_s")

    return interval_overlap_join(
        sessions("click"),
        sessions("error").withColumnRenamed("session_idx", "session_idx_r"),
        key_cols=("user_id",),
        l_id="session_idx",
        r_id="session_idx_r",
        grid_s=86400,
    )


def _interval_join_sql() -> str:
    def sess(etype: str) -> str:
        return f"""
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         min(ts_s) AS start_s, max(ts_s) AS end_s
  FROM (
    SELECT user_id, ts_s,
           sum(bnd) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
    FROM (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 43200
                  THEN 1 ELSE 0 END AS bnd
      FROM events WHERE event_type = '{etype}'
      WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id)
    )
  ) GROUP BY 1, 2"""

    return f"""
WITH l AS ({sess("click")}),
r AS ({sess("error")})
SELECT l.user_id, l.session_idx,
       l.start_s AS l_start_s, l.end_s AS l_end_s,
       r.session_idx AS session_idx_r,
       r.start_s AS r_start_s, r.end_s AS r_end_s
FROM l JOIN r ON l.user_id = r.user_id
 AND l.start_s <= r.end_s AND r.start_s <= l.end_s
"""


def _q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-user sketch per (series, hour) next to
    the exact count (operators/sketches.py): portable-hash registers, so
    the ESTIMATE itself is oracle-replayable — Spark's built-in
    approx_count_distinct never is."""
    from numalogic_spark.operators.sketches import hll_distinct

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 3600).alias("bucket_s"),
        "user_id",
    )
    est = hll_distinct(ev, "user_id", ["source", "bucket_s"], m=256)
    exact = ev.groupBy("source", "bucket_s").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(est, ["source", "bucket_s"])


def _fold_raw_sql(col: str, salt: int) -> str:
    """DuckDB replay of the salted Carter-Wegman char fold (sketches'
    portable hash BEFORE mixing) — emitted ONCE per hash site; the
    quadratic-map avalanche rounds are applied in staged CTE levels via
    `_mix_step_sql` so the O(len) fold never inlines 4x."""
    from numalogic_spark.functions.exprs import _CHAR_MULT, _SAMPLE_A, _SAMPLE_B, MERSENNE31

    p = MERSENNE31
    return (
        f"(({_SAMPLE_A} * list_reduce(list_prepend(CAST({salt} AS BIGINT), "
        f"list_transform(generate_series(1, greatest(length({col}), 1)), "
        f"i -> CAST(ascii({col}[i]) AS BIGINT))), "
        f"(acc, c) -> (acc * {_CHAR_MULT} + c) % {p}) + {_SAMPLE_B}) % {p})"
    )


def _mix_step_sql(x: str, c: int) -> str:
    """One quadratic-map round (x² + c mod p) over a BOUND column
    reference — column refs are free, so squaring costs nothing extra."""
    from numalogic_spark.functions.exprs import MERSENNE31

    return f"((({x}) * ({x}) + {c}) % {MERSENNE31})"


def _hll_sql_builder(m: int = 256, include_exact: bool = True) -> str:
    """ONE builder for both HLL oracles (per-hour sketch ± the exact
    count join) — the register/estimate SQL must stay byte-identical
    between the direct query and the tier-cascade query, whose hash gate
    proves merge-losslessness against exactly this text."""

    from numalogic_spark.operators.sketches import MIX_C1, MIX_C2

    exact_cols = (
        ",\n       CAST(x.exact_distinct AS BIGINT) AS exact_distinct"
        if include_exact
        else ""
    )
    exact_join = (
        """
JOIN (SELECT source, bucket_s, count(DISTINCT s) AS exact_distinct
      FROM b GROUP BY 1, 2) x
  ON x.source = e.source AND x.bucket_s = e.bucket_s"""
        if include_exact
        else ""
    )
    return f"""
WITH b AS (
  SELECT event_type AS source,
         CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS bucket_s,
         CAST(user_id AS VARCHAR) AS s
  FROM events
), hraw AS (
  SELECT source, bucket_s, {_fold_raw_sql("s", 0)} AS f0, {_fold_raw_sql("s", 1)} AS f1
  FROM b
), hmid AS (
  SELECT source, bucket_s, {_mix_step_sql("f0", MIX_C1)} AS g0,
         {_mix_step_sql("f1", MIX_C1)} AS g1
  FROM hraw
), hashed AS (
  SELECT source, bucket_s, {_mix_step_sql("g0", MIX_C2)} % {m} AS register,
         {_mix_step_sql("g1", MIX_C2)} AS h2
  FROM hmid
), regs AS (
  SELECT source, bucket_s, register,
         max(CASE WHEN h2 = 0 THEN 32 ELSE 32 - length(bin(CAST(h2 AS BIGINT))) END) AS max_rho
  FROM hashed GROUP BY 1, 2, 3
), grid AS (
  SELECT g.source, g.bucket_s, r.register
  FROM (SELECT DISTINCT source, bucket_s FROM regs) g
  CROSS JOIN (SELECT unnest(range(0, {m})) AS register) r
), dense AS (
  SELECT g.source, g.bucket_s, coalesce(regs.max_rho, 0) AS max_rho
  FROM grid g LEFT JOIN regs
    ON regs.source = g.source AND regs.bucket_s = g.bucket_s
   AND regs.register = g.register
), agg AS (
  SELECT source, bucket_s,
         sum(CAST(1.0 AS DOUBLE) / CAST(CAST(1 AS BIGINT) << max_rho AS DOUBLE)) AS sterm,
         sum(CASE WHEN max_rho = 0 THEN 1 ELSE 0 END) AS v
  FROM dense GROUP BY 1, 2
), est AS (
  SELECT source, bucket_s,
         (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST({m} AS DOUBLE)))
           * CAST({m} AS DOUBLE) * CAST({m} AS DOUBLE) / sterm AS raw_e,
         v
  FROM agg
)
SELECT e.source, e.bucket_s{exact_cols},
       floor((CASE WHEN raw_e <= 2.5 * {m} AND v > 0
              THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / CAST(v AS DOUBLE))
              ELSE raw_e END) * 1000000 + 0.5) / 1000000.0 AS hll_estimate
FROM est e{exact_join}
"""


def _q_hll_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL tier cascade: minute-level register tables merged by MAX up to
    the hour, then estimated — the lossless sketch re-aggregation that
    lets distinct counts ride the same retention ladder as the rollups.
    The oracle computes the DIRECT hourly estimate; equality IS the
    merge-losslessness proof, cross-engine."""
    from numalogic_spark.operators.sketches import hll_estimate, hll_registers

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts") % 60).alias("bucket_1m"),
        "user_id",
    )
    regs_1m = hll_registers(ev, "user_id", ["source", "bucket_1m"], m=256)
    regs_1h = (
        regs_1m.withColumn("bucket_s", F.col("bucket_1m") - F.col("bucket_1m") % 3600)
        .groupBy("source", "bucket_s", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return hll_estimate(regs_1h, ["source", "bucket_s"], m=256)


def _hll_cascade_sql(m: int = 256) -> str:
    return _hll_sql_builder(m, include_exact=False)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over per-source word counts, probed at
    the exact top-10 heavy hitters (operators/sketches.py): the sketch
    estimate rides next to the exact count so the gate checks both the
    cell arithmetic and the min-fold."""
    from numalogic_spark.operators.sketches import cms_lookup, cms_sketch

    docs = _docs(spark, sf_dir).select(
        "source",
        F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "").alias("words"),
    )
    # ONE tokenize pass: the checkpointed (source, token, c) table feeds
    # the sketch, the top-10 rank window AND the probe join
    counts = (
        docs.select("source", F.explode("words").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    ).localCheckpoint(eager=False)
    sk = cms_sketch(counts, "token", ["source"], depth=4, width=256, weight_col="c")
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("token"))
    hh = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("source", "token", F.col("c").alias("cnt"), "rnk")
    )
    est = cms_lookup(sk, hh.select("source", "token"), "token", ["source"])
    return hh.join(est, ["source", "token"]).select(
        "source", "token", "cnt", "rnk", "cms_estimate"
    )


def _cms_sql(depth: int = 4, width: int = 256) -> str:
    from numalogic_spark.operators.sketches import MIX_C1, MIX_C2

    def cell_select(src_rel: str, d: int) -> str:
        # staged: fold bound once, then two quadratic rounds on refs
        return (
            f"SELECT source, token, c, {d} AS d,"
            f" {_mix_step_sql('g', MIX_C2)} % {width} AS col FROM ("
            f"SELECT source, token, c, {_mix_step_sql('f', MIX_C1)} AS g FROM ("
            f"SELECT source, token, c, {_fold_raw_sql('token', d)} AS f"
            f" FROM {src_rel}))"
        )

    cell_rows = "\nUNION ALL\n".join(cell_select("counts", d) for d in range(depth))
    probe_rows = "\nUNION ALL\n".join(
        cell_select(
            "(SELECT c2.source, c2.token, c2.c FROM counts c2"
            " JOIN hh ON hh.source = c2.source AND hh.token = c2.token)",
            d,
        )
        for d in range(depth)
    )
    return rf"""
WITH t AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT source, token, count(*) AS c FROM t GROUP BY 1, 2
), cells AS (
{cell_rows}
), sketch AS (
  SELECT source, d, col, CAST(sum(c) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2, 3
), hh AS (
  SELECT source, token, cnt, rnk FROM (
    SELECT source, token, c AS cnt,
           row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rnk
    FROM counts
  ) WHERE rnk <= 10
), probes AS (
{probe_rows}
)
SELECT h.source, h.token, h.cnt, h.rnk,
       CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_estimate
FROM probes p
JOIN hh h ON h.source = p.source AND h.token = p.token
LEFT JOIN sketch s ON s.source = p.source AND s.d = p.d AND s.col = p.col
GROUP BY 1, 2, 3, 4
"""


def _q_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series staleness/absence audit vs the data watermark
    (operators/retention.staleness_report): last-seen age + observed vs
    missing minute buckets over the trailing day."""
    from numalogic_spark.operators.retention import staleness_report

    return staleness_report(
        _evt_series(spark, sf_dir), bucket_s=60, lookback_s=86400
    )


_STALENESS_SQL = """
WITH b AS (
  SELECT event_type AS source,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 60 AS bucket
  FROM events
), wm AS (SELECT max(ts_s) AS w FROM b),
pb AS (SELECT source, bucket, max(ts_s) AS bmax FROM b GROUP BY 1, 2)
SELECT source,
       max(bmax) AS last_seen_s,
       (SELECT w FROM wm) - max(bmax) AS staleness_s,
       CAST(sum(CASE WHEN bucket > (SELECT w FROM wm) - 86400
                      AND bucket <= (SELECT w FROM wm)
                     THEN 1 ELSE 0 END) AS BIGINT) AS buckets_observed,
       1440 - CAST(sum(CASE WHEN bucket > (SELECT w FROM wm) - 86400
                             AND bucket <= (SELECT w FROM wm)
                            THEN 1 ELSE 0 END) AS BIGINT) AS buckets_missing
FROM pb GROUP BY 1
"""


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every event matched to the mean of the last
    COMPLETED hour of its series (stat stamped at bucket end — the
    fitted-threshold-lookup pattern; operators/joins.py). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from numalogic_spark.operators.joins import asof_join_backward

    ev = _evt_series(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "source",
            ((F.col("ts_s") - F.col("ts_s") % 3600) + 3600).alias("rt"),
        )
        .agg(
            _r6(
                F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("stat_mean")
        )
    )
    return asof_join_backward(ev, hourly, right_ts="rt")


_ASOF_SQL = """
WITH b AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, value
  FROM events
), r AS (
  SELECT source, (ts_s - ts_s % 3600) + 3600 AS rt,
         floor((CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000.0 AS stat_mean
  FROM b GROUP BY 1, 2
)
SELECT b.source, b.ts_s, b.event_id, b.value,
       r.rt AS asof_ts, r.stat_mean AS asof_stat_mean
FROM b ASOF LEFT JOIN r ON b.source = r.source AND b.ts_s >= r.rt
"""


_HIST_LES = (1.0, 2.0, 3.0, 5.0, 8.0, 12.0, 20.0, 50.0)


def _q_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL histogram_quantile(0.9) over hourly cumulative fixed
    buckets — the O(buckets)-state mergeable quantile path
    (operators/promql.py fixed_histogram + histogram_quantile)."""
    from numalogic_spark.operators.promql import fixed_histogram, histogram_quantile

    hist = fixed_histogram(_evt_series(spark, sf_dir), _HIST_LES, bucket_s=3600)
    return histogram_quantile(hist, q=0.9)


def _hist_quantile_sql(q: float = 0.9) -> str:
    fins = list(_HIST_LES)
    le_case = "CASE " + " ".join(
        f"WHEN value <= {b} THEN {b}" for b in fins
    ) + " ELSE CAST('infinity' AS DOUBLE) END"
    le_list = ", ".join(str(b) for b in fins) + ", CAST('infinity' AS DOUBLE)"
    return f"""
WITH b AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
  FROM events
), raw AS (
  SELECT source, ts_s - ts_s % 3600 AS bucket_s, {le_case} AS le, count(*) AS cnt
  FROM b GROUP BY 1, 2, 3
), grid AS (
  SELECT g.source, g.bucket_s, l.le
  FROM (SELECT DISTINCT source, bucket_s FROM raw) g
  CROSS JOIN (SELECT unnest([{le_list}]) AS le) l
), dense AS (
  SELECT g.source, g.bucket_s, g.le, coalesce(r.cnt, 0) AS cnt
  FROM grid g LEFT JOIN raw r
    ON r.source = g.source AND r.bucket_s = g.bucket_s AND r.le = g.le
), cum AS (
  SELECT source, bucket_s, le,
         CAST(sum(cnt) OVER (PARTITION BY source, bucket_s ORDER BY le
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumd
  FROM dense
), h AS (
  SELECT source, bucket_s, le, cumd,
         lag(cumd, 1, 0.0) OVER w AS prev_cum,
         lag(le, 1, 0.0) OVER w AS prev_le,
         max(cumd) OVER (PARTITION BY source, bucket_s) AS total,
         max(CASE WHEN le <> CAST('infinity' AS DOUBLE) THEN le END)
           OVER (PARTITION BY source, bucket_s) AS maxfin
  FROM cum WINDOW w AS (PARTITION BY source, bucket_s ORDER BY le)
), sel AS (
  SELECT source, bucket_s,
         min({{'le': le, 'prev_le': prev_le, 'cum': cumd, 'prev_cum': prev_cum,
              'rank': {q} * total, 'maxfin': maxfin, 'total': total}}) AS s
  FROM h WHERE cumd >= {q} * total GROUP BY 1, 2
)
SELECT source, bucket_s, CAST((s).total AS BIGINT) AS total,
  floor((CASE WHEN (s).le = CAST('infinity' AS DOUBLE) THEN (s).maxfin
    ELSE (s).prev_le + ((s).le - (s).prev_le)
         * ((s).rank - (s).prev_cum) / ((s).cum - (s).prev_cum) END)
    * 1000000 + 0.5) / 1000000.0 AS phi
FROM sel
"""


# --- vanilla-AE forward-pass inference (the reference's actual scoring
# model family: udfs/inference.py:62-86 over models/autoencoder/variants/
# vanilla.py). Frozen demo artifact; weights-as-SQL-literals oracle (the
# IVF/MCD discipline). Windows: stride-4 length-8 trailing windows per
# source ordered by (ts_s, event_id), per-window z-scored (the reference
# scales before inference) with 6-dp-snapped z so both engines feed the
# forward pass identical fixed-point inputs.
_AE_L, _AE_STRIDE = 8, 4


def _ae_weights():
    from numalogic_spark.functions.ae import make_demo_weights

    return make_demo_weights(seq_len=_AE_L)


def _sparse_ae_weights():
    from numalogic_spark.functions.ae import make_sparse_demo_weights

    return make_sparse_demo_weights(seq_len=_AE_L)


def _ae_z_exprs() -> tuple[str, str, list[str]]:
    """Shared m / sd / z0..z{L-1} expression strings — Spark consumes
    them via F.expr, the oracle embeds the identical text, so the
    standardization arithmetic cannot drift between engines. Lives in
    operators/score.py (jobs/score_job.py runs the same pipeline)."""
    from numalogic_spark.operators.score import z_window_exprs

    return z_window_exprs(_AE_L)


def _ae_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input builder for the AE families: stride-{_AE_STRIDE}
    length-{_AE_L} trailing windows per source, per-window z-scored with
    the engine-shared 6-dp expressions (operators/score.py)."""
    from numalogic_spark.operators.score import strided_z_windows

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.unix_timestamp("ts").alias("ts_s"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    return strided_z_windows(ev, _AE_L, _AE_STRIDE)


def _q_ae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 model-inference gap-closer: reconstruction-error scoring of
    per-series windows through the Arrow forward-pass kernel
    (numalogic_spark/functions/ae.py), per-window z-scored inputs, huber
    errors aggregated to (err_mean, err_max) per window."""
    from numalogic_spark.functions.ae import ae_window_scores

    scored = ae_window_scores(_ae_wins(spark, sf_dir), _ae_weights())
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _q_sparse_ae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SparseVanillaAE inference (vanilla.py:305-380): the VanillaAE
    dense stack with the encoder's final activation swapped Tanh→ReLU —
    the sparsity KL penalty is train-time only, so eval-mode scoring is
    the same Arrow kernel with a relu layer in the grid."""
    from numalogic_spark.functions.ae import ae_window_scores

    scored = ae_window_scores(_ae_wins(spark, sf_dir), _sparse_ae_weights())
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _conv_ae_weights():
    from numalogic_spark.functions.conv_ae import make_demo_conv_weights

    return make_demo_conv_weights(seq_len=_AE_L)


def _q_conv_ae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND autoencoder family (Conv1dAE, models/
    autoencoder/variants/conv.py): conv/BN/ReLU/pool encoder + convT/BN/
    ReLU/upsample decoder over the same z-scored windows, scored by the
    Arrow kernel in numalogic_spark/functions/conv_ae.py."""
    from numalogic_spark.functions.conv_ae import conv_ae_window_scores

    scored = conv_ae_window_scores(_ae_wins(spark, sf_dir), _conv_ae_weights())
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _lstm_ae_weights():
    from numalogic_spark.functions.lstm_ae import make_demo_lstm_weights

    return make_demo_lstm_weights(seq_len=_AE_L)


def _q_lstm_ae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's THIRD autoencoder family (LSTMAE, models/
    autoencoder/variants/lstm.py:89-152): LSTM encoder final hidden
    state -> repeat -> LSTM decoder -> per-step Linear over the same
    z-scored windows, scored by the Arrow recurrence kernel in
    numalogic_spark/functions/lstm_ae.py (SparseLSTMAE shares this
    forward pass)."""
    from numalogic_spark.functions.lstm_ae import lstm_ae_window_scores

    scored = lstm_ae_window_scores(_ae_wins(spark, sf_dir), _lstm_ae_weights())
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _transformer_ae_weights():
    from numalogic_spark.functions.transformer_ae import (
        make_demo_transformer_weights,
    )

    return make_demo_transformer_weights(seq_len=_AE_L)


def _q_transformer_ae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FOURTH autoencoder family (TransformerAE, models/
    autoencoder/variants/transformer.py:289-361): stacked residual
    attention/feed-forward blocks with LayerNorm + final softmax over
    the same z-scored windows, scored by the Arrow kernel in
    numalogic_spark/functions/transformer_ae.py. At the engine's
    univariate windows every attention softmax runs over a single key
    and collapses EXACTLY to the value projections (see the module
    docstring), which is what makes the stack oracle-replayable.
    SparseTransformerAE shares this forward pass."""
    from numalogic_spark.functions.transformer_ae import (
        transformer_ae_window_scores,
    )

    scored = transformer_ae_window_scores(
        _ae_wins(spark, sf_dir), _transformer_ae_weights()
    )
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _transformer_ae_sql() -> str:
    """DuckDB replay of the TransformerAE kernel: identical window/z
    construction as _ae_sql, then the unrolled attention/norm/FF level
    grid from transformer_ae.sql_forward_exprs (one CTE per dependency
    level)."""
    from numalogic_spark.functions.ae import round6_sql, sql_error_exprs
    from numalogic_spark.functions.transformer_ae import sql_forward_exprs

    wts = _transformer_ae_weights()
    m_e, sd_e, z_es = _ae_z_exprs()
    lags = ",\n         ".join(
        f"lag(value, {_AE_L - 1 - i}) OVER w AS x{i}" for i in range(_AE_L)
    )
    zcols = ",\n         ".join(
        f"{ze} AS z{i}" for i, ze in enumerate(z_es)
    )
    levels, recon = sql_forward_exprs(wts, [f"z{i}" for i in range(_AE_L)])
    ctes = ""
    prev = "zs"
    for t, exprs in enumerate(levels):
        ctes += f", c{t} AS (SELECT *, {', '.join(exprs)} FROM {prev})\n"
        prev = f"c{t}"
    errs = sql_error_exprs(wts, [f"z{i}" for i in range(_AE_L)], recon)
    es = [f"e{k}" for k in range(_AE_L)]
    s = es[0]
    for c in es[1:]:
        s = f"({s} + {c})"
    mean6 = round6_sql(f"{s} / {float(_AE_L)!r}")
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER w AS rn,
         {lags}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
), f AS (
  SELECT * FROM r WHERE rn >= {_AE_L} AND (rn - {_AE_L}) % {_AE_STRIDE} = 0
), ms AS (
  SELECT *, {m_e} AS m FROM f
), ss AS (
  SELECT *, {sd_e} AS sd FROM ms
), zs AS (
  SELECT source, ts_s, event_id,
         {zcols}
  FROM ss
){ctes}, ee AS (
  SELECT source, ts_s, event_id, {', '.join(errs)} FROM {prev}
)
SELECT source, ts_s AS end_s, event_id,
       {mean6} AS err_mean,
       greatest({', '.join(es)}) AS err_max
FROM ee
"""


def _vae_weights():
    from numalogic_spark.functions.vae import make_demo_vae_weights

    return make_demo_vae_weights(seq_len=_AE_L)


def _q_vae_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FIFTH model family (Conv1dVAE, models/vae/
    variants/conv.py:139-231) in its deterministic mean-latent eval
    form (z = mu; the reference samples even at predict time, so the
    stochastic path is unreplayable by design — see
    numalogic_spark/functions/vae.py): causal dilated conv encoder +
    dense mu head + convT decoder over the same z-scored windows,
    scored with SQUARED error (BaseVAE's mse default, base.py:33-40)
    by the Arrow kernel in numalogic_spark/functions/vae.py."""
    from numalogic_spark.functions.vae import vae_window_scores

    scored = vae_window_scores(_ae_wins(spark, sf_dir), _vae_weights())
    return scored.select(
        "source",
        F.col("ts_s").alias("end_s"),
        "event_id",
        "err_mean",
        "err_max",
    )


def _vae_sql() -> str:
    """DuckDB replay of the mean-latent Conv1dVAE kernel: identical
    window/z construction as _ae_sql, then the unrolled causal-conv/
    dense/affine/relu/convT column grid from vae.sql_forward_exprs and
    the squared-error grid from vae.sql_error_exprs (mse, not huber)."""
    from numalogic_spark.functions.ae import round6_sql
    from numalogic_spark.functions.vae import sql_error_exprs, sql_forward_exprs

    wts = _vae_weights()
    m_e, sd_e, z_es = _ae_z_exprs()
    lags = ",\n         ".join(
        f"lag(value, {_AE_L - 1 - i}) OVER w AS x{i}" for i in range(_AE_L)
    )
    zcols = ",\n         ".join(
        f"{ze} AS z{i}" for i, ze in enumerate(z_es)
    )
    layers, recon = sql_forward_exprs(wts, [f"z{i}" for i in range(_AE_L)])
    ctes = ""
    prev = "zs"
    for t, exprs in enumerate(layers):
        ctes += f", c{t} AS (SELECT *, {', '.join(exprs)} FROM {prev})\n"
        prev = f"c{t}"
    errs = sql_error_exprs(wts, [f"z{i}" for i in range(_AE_L)], recon)
    es = [f"e{k}" for k in range(_AE_L)]
    s = es[0]
    for c in es[1:]:
        s = f"({s} + {c})"
    mean6 = round6_sql(f"{s} / {float(_AE_L)!r}")
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER w AS rn,
         {lags}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
), f AS (
  SELECT * FROM r WHERE rn >= {_AE_L} AND (rn - {_AE_L}) % {_AE_STRIDE} = 0
), ms AS (
  SELECT *, {m_e} AS m FROM f
), ss AS (
  SELECT *, {sd_e} AS sd FROM ms
), zs AS (
  SELECT source, ts_s, event_id,
         {zcols}
  FROM ss
){ctes}, ee AS (
  SELECT source, ts_s, event_id, {', '.join(errs)} FROM {prev}
)
SELECT source, ts_s AS end_s, event_id,
       {mean6} AS err_mean,
       greatest({', '.join(es)}) AS err_max
FROM ee
"""


def _ae_sql(wts=None) -> str:
    """DuckDB replay: identical window/z construction, then the unrolled
    weights-as-literals forward pass and huber errors from
    ae.sql_forward_exprs / sql_error_exprs (the strings pytest proves
    equal to the kernel under Spark SQL's parser too). Pass the sparse
    artifact for the SparseVanillaAE query — same grid, one relu act."""
    from numalogic_spark.functions.ae import (
        round6_sql, sql_error_exprs, sql_forward_exprs)

    if wts is None:
        wts = _ae_weights()
    m_e, sd_e, z_es = _ae_z_exprs()
    lags = ",\n         ".join(
        f"lag(value, {_AE_L - 1 - i}) OVER w AS x{i}" for i in range(_AE_L)
    )
    zcols = ",\n         ".join(
        f"{ze} AS z{i}" for i, ze in enumerate(z_es)
    )
    layers = sql_forward_exprs(wts, [f"z{i}" for i in range(_AE_L)])
    ctes = ""
    prev = "zs"
    for t, exprs in enumerate(layers):
        ctes += f", c{t} AS (SELECT *, {', '.join(exprs)} FROM {prev})\n"
        prev = f"c{t}"
    recon = [f"h{len(layers) - 1}_{j}" for j in range(_AE_L)]
    errs = sql_error_exprs(wts, [f"z{i}" for i in range(_AE_L)], recon)
    es = [f"e{k}" for k in range(_AE_L)]
    s = es[0]
    for c in es[1:]:
        s = f"({s} + {c})"
    mean6 = round6_sql(f"{s} / {float(_AE_L)!r}")
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER w AS rn,
         {lags}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
), f AS (
  SELECT * FROM r WHERE rn >= {_AE_L} AND (rn - {_AE_L}) % {_AE_STRIDE} = 0
), ms AS (
  SELECT *, {m_e} AS m FROM f
), ss AS (
  SELECT *, {sd_e} AS sd FROM ms
), zs AS (
  SELECT source, ts_s, event_id,
         {zcols}
  FROM ss
){ctes}, ee AS (
  SELECT source, ts_s, event_id, {', '.join(errs)} FROM {prev}
)
SELECT source, ts_s AS end_s, event_id,
       {mean6} AS err_mean,
       greatest({', '.join(es)}) AS err_max
FROM ee
"""


def _conv_ae_sql() -> str:
    """DuckDB replay of the Conv1dAE kernel: identical window/z
    construction as _ae_sql, then the unrolled conv/affine/relu/pool/
    upsample column grid from conv_ae.sql_forward_exprs."""
    from numalogic_spark.functions.ae import round6_sql, sql_error_exprs
    from numalogic_spark.functions.conv_ae import sql_forward_exprs

    wts = _conv_ae_weights()
    m_e, sd_e, z_es = _ae_z_exprs()
    lags = ",\n         ".join(
        f"lag(value, {_AE_L - 1 - i}) OVER w AS x{i}" for i in range(_AE_L)
    )
    zcols = ",\n         ".join(
        f"{ze} AS z{i}" for i, ze in enumerate(z_es)
    )
    layers, recon = sql_forward_exprs(wts, [f"z{i}" for i in range(_AE_L)])
    ctes = ""
    prev = "zs"
    for t, exprs in enumerate(layers):
        ctes += f", c{t} AS (SELECT *, {', '.join(exprs)} FROM {prev})\n"
        prev = f"c{t}"
    errs = sql_error_exprs(wts, [f"z{i}" for i in range(_AE_L)], recon)
    es = [f"e{k}" for k in range(_AE_L)]
    s = es[0]
    for c in es[1:]:
        s = f"({s} + {c})"
    mean6 = round6_sql(f"{s} / {float(_AE_L)!r}")
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER w AS rn,
         {lags}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
), f AS (
  SELECT * FROM r WHERE rn >= {_AE_L} AND (rn - {_AE_L}) % {_AE_STRIDE} = 0
), ms AS (
  SELECT *, {m_e} AS m FROM f
), ss AS (
  SELECT *, {sd_e} AS sd FROM ms
), zs AS (
  SELECT source, ts_s, event_id,
         {zcols}
  FROM ss
){ctes}, ee AS (
  SELECT source, ts_s, event_id, {', '.join(errs)} FROM {prev}
)
SELECT source, ts_s AS end_s, event_id,
       {mean6} AS err_mean,
       greatest({', '.join(es)}) AS err_max
FROM ee
"""


def _lstm_ae_sql() -> str:
    """DuckDB replay of the LSTMAE kernel: identical window/z
    construction as _ae_sql, then the unrolled gate/cell/hidden level
    grid from lstm_ae.sql_forward_exprs (one CTE per dependency level)."""
    from numalogic_spark.functions.ae import round6_sql, sql_error_exprs
    from numalogic_spark.functions.lstm_ae import sql_forward_exprs

    wts = _lstm_ae_weights()
    m_e, sd_e, z_es = _ae_z_exprs()
    lags = ",\n         ".join(
        f"lag(value, {_AE_L - 1 - i}) OVER w AS x{i}" for i in range(_AE_L)
    )
    zcols = ",\n         ".join(
        f"{ze} AS z{i}" for i, ze in enumerate(z_es)
    )
    levels, recon = sql_forward_exprs(wts, [f"z{i}" for i in range(_AE_L)])
    ctes = ""
    prev = "zs"
    for t, exprs in enumerate(levels):
        ctes += f", c{t} AS (SELECT *, {', '.join(exprs)} FROM {prev})\n"
        prev = f"c{t}"
    errs = sql_error_exprs(wts, [f"z{i}" for i in range(_AE_L)], recon)
    es = [f"e{k}" for k in range(_AE_L)]
    s = es[0]
    for c in es[1:]:
        s = f"({s} + {c})"
    mean6 = round6_sql(f"{s} / {float(_AE_L)!r}")
    return f"""
WITH r AS (
  SELECT event_type AS source, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_id, CAST(value AS DOUBLE) AS value,
         row_number() OVER w AS rn,
         {lags}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY floor(epoch(ts)), event_id)
), f AS (
  SELECT * FROM r WHERE rn >= {_AE_L} AND (rn - {_AE_L}) % {_AE_STRIDE} = 0
), ms AS (
  SELECT *, {m_e} AS m FROM f
), ss AS (
  SELECT *, {sd_e} AS sd FROM ms
), zs AS (
  SELECT source, ts_s, event_id,
         {zcols}
  FROM ss
){ctes}, ee AS (
  SELECT source, ts_s, event_id, {', '.join(errs)} FROM {prev}
)
SELECT source, ts_s AS end_s, event_id,
       {mean6} AS err_mean,
       greatest({', '.join(es)}) AS err_max
FROM ee
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # The correctness gate checks list(queries())[:50] against oracle_sql().
        # Every entry has an oracle; the one that replays a fit over the
        # sf0.01 fixture falls back to rows-only where it is missing (see
        # oracle_sql). Keep the order stable.
        "holt_linear_1h_events": _q_holt,
        "kalman_level_1h_events": _q_kalman,
        "counter_rate_events": _q_counter_rate,
        "m4_downsample_events": _q_m4,
        "retention_policy_events": _q_retention,
        "lttb_downsample_events": _q_lttb,
        "histogram_quantile_events": _q_hist_quantile,
        "asof_join_events": _q_asof,
        "hll_distinct_events": _q_hll,
        "sessionize_events": _q_sessionize,
        "hll_tier_cascade_events": _q_hll_cascade,
        "interval_overlap_join_events": _q_interval_join,
        "cms_freq_documents": _q_cms,
        "staleness_report_events": _q_staleness,
        "ae_inference_events": _q_ae_inference,
        "conv_ae_inference_events": _q_conv_ae_inference,
        "lstm_ae_inference_events": _q_lstm_ae_inference,
        "sparse_ae_inference_events": _q_sparse_ae_inference,
        "transformer_ae_inference_events": _q_transformer_ae_inference,
        "vae_inference_events": _q_vae_inference,
        "rollup_1m_events": _q_rollup("1m"),
        "rollup_1h_events": _q_rollup("1h"),
        "rollup_1d_events": _q_rollup("1d"),
        "rollup_tiers_fused_events": _q_rollup_fused,
        "gapfill_1m_events": _q_gapfill,
        "stateless_transforms": _q_log_transform,
        "score_norms": _q_score_norm,
        "difference_transform": _q_diff,
        "tail_n_per_series": _q_tail_n,
        "ewm_window_agg": _q_ewm_window_agg,
        "tanh_scaler_stddev_threshold": _q_tanh_scaler,
        "percentile_scaler_threshold": _q_percentile_scaler,
        "compressed_rollup_roundtrip": _q_compress_roundtrip,
        "score_pipeline_events": _q_score_pipeline,
        "pivot_metrics_1m": _q_pivot,
        "train_val_split_events": _q_train_val_split,
        "backtest_events": _q_backtest,
        "sliding_window_stats": _q_sliding_window_stats,
        "sliding_window_salted_stats": _q_sliding_window_salted_stats,
        "rollup_1m_sql_api": _q_rollup_sql_api,
        "multi_metric_rollup_lineitem": _q_multi_rollup_lineitem,
        "ewm_smooth_events": _q_ewm_smooth,
        "mahalanobis_events": _q_mahalanobis,
        "sklearn_scalers_events": _q_sklearn_scalers,
        "robust_mahalanobis_events": _q_robust_mahalanobis,
        "seasonal_naive_1h_events": _q_seasonal_naive,
        "forecast_metrics_events": _q_forecast_metrics,
        "prometheus_frame_events": _q_prometheus_frame,
    }


def oracle_sql() -> dict[str, str]:
    out = {
        "ae_inference_events": _ae_sql(),
        "rollup_1m_events": _rollup_sql("minute", 60),
        "rollup_1h_events": _rollup_sql("hour", 3600),
        "rollup_1d_events": _rollup_sql("day", 86400),
        "rollup_tiers_fused_events": _rollup_fused_sql(),
        "gapfill_1m_events": _GAPFILL_SQL,
        "stateless_transforms": _LOG_SQL,
        "score_norms": _SCORE_SQL,
        "difference_transform": _DIFF_SQL,
        "tail_n_per_series": _TAIL_SQL,
        "ewm_window_agg": _EWM_SQL,
        "tanh_scaler_stddev_threshold": _TANH_SCALER_SQL,
        "percentile_scaler_threshold": _PCT_SCALER_SQL,
        "compressed_rollup_roundtrip": _COMPRESS_SQL,
        "score_pipeline_events": _score_pipeline_sql(),
        "pivot_metrics_1m": _PIVOT_SQL,
        "train_val_split_events": _SPLIT_SQL,
        "sliding_window_stats": _SLIDING_SQL,
        "sliding_window_salted_stats": _SLIDING_SQL,
        "rollup_1m_sql_api": _ROLLUP_SQL_API_ORACLE,
        "multi_metric_rollup_lineitem": _MULTI_ROLLUP_SQL,
        "mahalanobis_events": _mahalanobis_sql(),
        "sklearn_scalers_events": _SKLEARN_SCALERS_SQL,
        "seasonal_naive_1h_events": _SEASONAL_NAIVE_SQL,
        "forecast_metrics_events": _FORECAST_METRICS_SQL,
        "ewm_smooth_events": _ewm_smooth_sql(),
        "backtest_events": _backtest_sql(),
        "prometheus_frame_events": _prom_frame_sql(),
        "holt_linear_1h_events": _holt_sql(),
        "kalman_level_1h_events": _kalman_sql(),
        "counter_rate_events": _COUNTER_RATE_SQL,
        "m4_downsample_events": _M4_SQL,
        "retention_policy_events": _retention_sql(),
        "lttb_downsample_events": _lttb_sql(),
        "histogram_quantile_events": _hist_quantile_sql(),
        "asof_join_events": _ASOF_SQL,
        "hll_distinct_events": _hll_sql_builder(),
        "sessionize_events": _SESSIONIZE_SQL,
        "hll_tier_cascade_events": _hll_cascade_sql(),
        "interval_overlap_join_events": _interval_join_sql(),
        "cms_freq_documents": _cms_sql(),
        "staleness_report_events": _STALENESS_SQL,
        "conv_ae_inference_events": _conv_ae_sql(),
        "lstm_ae_inference_events": _lstm_ae_sql(),
        "sparse_ae_inference_events": _ae_sql(_sparse_ae_weights()),
        "transformer_ae_inference_events": _transformer_ae_sql(),
        "vae_inference_events": _vae_sql(),
    }
    # The robust-Mahalanobis oracle is generated by REPLAYING the MCD fit
    # over the driver's comparison-scale data (sf0.01 per the driver
    # contract) and embeds the fitted stats as literals — the one oracle
    # that is data-dependent, valid only at that scale. If the fixture is
    # unavailable (different machine/layout), fall back to rows-only
    # rather than failing EVERY oracle.
    try:
        out["robust_mahalanobis_events"] = _robust_mahalanobis_sql()
    except Exception:
        pass
    return out
