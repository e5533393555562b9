"""Continuous-aggregate rollup into retention tiers.

Semantics mirror the reference's Druid granularity rollup — time-bucket
aggregation with count/sum/mean plus an approximate-quantile aggregator
(/root/reference/numalogic/connectors/druid/_druid.py:106-115 granularity
params; aggregators.py:1-22 quantilesDoublesSketch) — except our quantiles
are EXACT: instead of a DataSketch we keep a *mergeable exact histogram*
(value → count) per minute bucket, which supports numpy-style linear-interpolation
percentiles at every tier without rescanning raw data.

Plan shape (one raw scan total, all JVM-side):

    raw ─groupBy(source, 1m-bucket, value)→ hist_1m      (partial agg map-side)
        hist_1m ─explode(tier, bucket)→ groupBy(tier, source, bucket, value)
                ─window+groupBy→ tier_1m ∪ tier_1h ∪ tier_1d
                  (count/sum/mean/p95/rate, one frame with a ``tier`` column)

A caller that needs one tier filters on ``tier``; the filter lands right
after the explode, below the aggregate's exchange.

The (source, bucket, value) grouping key spreads a hot source across many
reducers (value acts as a natural salt), and partial aggregation collapses
duplicates map-side — this is the skew story for the rollup path; explicit
salting helpers for other paths live in plans/skew.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TIERS: dict[str, tuple[str, int, str]] = {
    # tier name -> (date_trunc unit, bucket seconds, calendar spine step).
    # The spine step for 1d is a CALENDAR day, not 86400s: under a non-UTC
    # session timezone date_trunc('day') buckets are 23/25h apart across
    # DST transitions and a fixed-second spine would miss real buckets.
    "1m": ("minute", 60, "INTERVAL 1 MINUTE"),
    "1h": ("hour", 3600, "INTERVAL 1 HOUR"),
    "1d": ("day", 86400, "INTERVAL 1 DAY"),
}


@dataclass(frozen=True)
class RollupConfig:
    source_col: str = "source"
    ts_col: str = "event_ts"
    value_col: str = "n_tok"
    percentile: float = 0.95
    integral_values: bool = True  # token counts are ints → store sums as long
    # For non-integral values: sum via exact decimal arithmetic so that the
    # result is independent of aggregation order (a distributed engine must
    # not let reducer scheduling change the answer). Value precision in the
    # source data is expected to fit decimal(20,6).
    decimal_sum: bool = False


def bucket(ts_col: str | Column, unit: str) -> Column:
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.date_trunc(unit, c)


def histogram(
    df: DataFrame, cfg: RollupConfig, unit: str, extra_keys: list[str] | None = None
) -> DataFrame:
    """(*extra_keys, source, bucket_ts, v) → cnt — the mergeable exact
    histogram. `extra_keys` carries orthogonal grouping columns (a metric
    name, a manifest bucket id) through every tier."""
    extra_keys = extra_keys or []
    return (
        df.select(
            *[F.col(k) for k in extra_keys],
            F.col(cfg.source_col).alias("source"),
            bucket(cfg.ts_col, unit).alias("bucket_ts"),
            F.col(cfg.value_col).cast("double").alias("v"),
        )
        .groupBy(*extra_keys, "source", "bucket_ts", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_with_fingerprint(
    df: DataFrame,
    cfg: RollupConfig,
    unit: str,
    token_col: str = "tokens",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """histogram() with a per-(source, bucket, v) xor-fingerprint of the
    token arrays folded into the SAME scan — one pass over the raw table
    yields both the rollup input and the raw-tier invariant digest.

    At 10^12 rows the tokens column dominates I/O; computing the invariant
    in a separate pass would read it twice. bit_xor is order-independent
    and mergeable, so the global fingerprint (and any per-partition lineage
    fingerprint for the checkpoint manifest) is a trivial re-aggregation of
    the histogram — see invariant_from_histogram()."""
    extra_keys = extra_keys or []
    return (
        df.select(
            *[F.col(k) for k in extra_keys],
            F.col(cfg.source_col).alias("source"),
            bucket(cfg.ts_col, unit).alias("bucket_ts"),
            F.col(cfg.value_col).cast("double").alias("v"),
            F.xxhash64(token_col).alias("_h"),
        )
        .groupBy(*extra_keys, "source", "bucket_ts", "v")
        .agg(F.count(F.lit(1)).alias("cnt"), F.bit_xor("_h").alias("fp"))
    )


def invariant_from_histogram(hist: DataFrame) -> DataFrame:
    """Global raw-tier invariant (row count, token sum, xor fingerprint)
    from a fingerprinted histogram — no second raw scan. xor of group xors
    == global xor; sum(cnt) == rows; sum(v*cnt) == token sum.

    The token sum multiplies in EXACT long arithmetic (v is an integral
    token count stored as double — cast back before the multiply): a double
    product-sum would shed low-order bits past 2^53 total tokens, and this
    invariant exists precisely to be byte-exact against F.sum(n_tok) on
    the raw tier."""
    return hist.agg(
        F.bit_xor("fp").alias("fp"),
        F.sum("cnt").alias("rows"),
        F.sum(F.col("v").cast("long") * F.col("cnt")).alias("tokens"),
    )


def _percentile_cols(p: float) -> list[Column]:
    """Exact linear-interpolation percentile over a (v, cnt) histogram.

    Matches numpy.percentile / Spark `percentile` / DuckDB quantile_cont:
    pos = p*(N-1); result = v[floor(pos)] + frac * (v[floor(pos)+1] - v[floor(pos)])
    computed from cumulative counts via window functions (stays in codegen).
    Expects columns: cum (running count ordered by v), total, v, cnt.
    """
    lo = F.floor(F.lit(p) * (F.col("total") - 1)).cast("long")
    hi = F.least(lo + 1, F.col("total") - 1)
    frac = F.lit(p) * (F.col("total") - 1) - lo
    v_lo = F.max(F.when((F.col("cum") - F.col("cnt") <= lo) & (F.col("cum") > lo), F.col("v")))
    v_hi = F.max(F.when((F.col("cum") - F.col("cnt") <= hi) & (F.col("cum") > hi), F.col("v")))
    return [v_lo.alias("_v_lo"), v_hi.alias("_v_hi"), F.max(frac).alias("_frac")]


def rollup_tiers_fused(
    h1m: DataFrame, cfg: RollupConfig | None = None, extra_keys: list[str] | None = None
) -> DataFrame:
    """Histogram → continuous-aggregate tiers, the engine's one tier
    derivation: every retention tier from the minute histogram through
    one merge→window→aggregate chain, as a single frame with a ``tier``
    column.

    Output: (*extra_keys, source, bucket_ts, tier, count, n_tok_sum,
    n_tok_mean, n_tok_p95, token_rate).

    Each histogram row explodes into its (tier, bucket) memberships, so
    one chain over ~3× histogram rows replaces a chain per tier: fewer
    stage barriers, fewer exchanges, and no serialized scheduling of
    small per-tier jobs. The window partitioning matches the groupBy key
    prefix, so Catalyst reuses one exchange for both. ``tier`` is a
    grouping key, so a ``filter(tier == ...)`` on the result is pushed
    onto the explode, below the merge's exchange: a single-tier caller
    shuffles and aggregates only its tier's rows.
    """
    cfg = cfg or RollupConfig()
    extra_keys = extra_keys or []
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tier"), bucket("bucket_ts", unit).alias("bucket_ts")
                )
                for t, (unit, _, _) in TIERS.items()
            ]
        )
    ).alias("_tb")
    keys = [*extra_keys, "tier", "source", "bucket_ts"]
    h_all = (
        h1m.select(*extra_keys, "source", "v", "cnt", tb)
        .select(
            *extra_keys,
            F.col("_tb.tier").alias("tier"),
            "source",
            F.col("_tb.bucket_ts").alias("bucket_ts"),
            "v",
            "cnt",
        )
        .groupBy(*keys, "v")
        .agg(F.sum("cnt").alias("cnt"))
    )
    secs = F.lit(None).cast("double")
    for t, (_, s, _) in TIERS.items():
        secs = F.when(F.col("tier") == t, F.lit(float(s))).otherwise(secs)
    w = Window.partitionBy(*keys).orderBy("v", "cnt")
    enriched = h_all.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy(*keys))
    )
    if cfg.decimal_sum and not cfg.integral_values:
        vsum = F.sum(F.col("v").cast("decimal(20,6)") * F.col("cnt")).cast("double")
    else:
        vsum = F.sum(F.col("v") * F.col("cnt"))
    if cfg.integral_values:
        vsum = vsum.cast("long")
    agg = enriched.groupBy(*keys).agg(
        F.sum("cnt").alias("count"),
        vsum.alias("n_tok_sum"),
        *_percentile_cols(cfg.percentile),
    )
    return agg.select(
        *extra_keys,
        "source",
        "bucket_ts",
        "tier",
        "count",
        "n_tok_sum",
        (F.col("n_tok_sum") / F.col("count")).alias("n_tok_mean"),
        (F.col("_v_lo") + F.col("_frac") * (F.col("_v_hi") - F.col("_v_lo"))).alias("n_tok_p95"),
        (F.col("n_tok_sum") / secs).alias("token_rate"),
    )


def rollup_cascade_multi(
    df: DataFrame,
    value_cols: list[str],
    cfg: RollupConfig | None = None,
) -> dict[str, DataFrame]:
    """Multi-metric rollup: unpivot the metric columns into the histogram
    key — one shuffle covers every metric (the reference's wide frames,
    prometheus.py:113-118, become long rows with a `metric` column).

    Output per tier: (source, metric, bucket_ts, tier, count, n_tok_sum,
    n_tok_mean, n_tok_p95, token_rate).
    """
    cfg = cfg or RollupConfig()
    long = df.select(
        F.col(cfg.source_col).alias("source"), F.col(cfg.ts_col).alias("event_ts"),
        *[F.col(c) for c in value_cols],
    ).unpivot(["source", "event_ts"], value_cols, "metric", "n_tok")
    long_cfg = RollupConfig(percentile=cfg.percentile, integral_values=cfg.integral_values,
                            decimal_sum=cfg.decimal_sum)
    tiers = rollup_tiers_fused(histogram(long, long_cfg, "minute", ["metric"]), long_cfg, ["metric"])
    return {
        tier: tiers.filter(F.col("tier") == tier).select(
            "source", "metric", "bucket_ts", "tier", "count",
            "n_tok_sum", "n_tok_mean", "n_tok_p95", "token_rate")
        for tier in TIERS
    }


def raw_tier(df: DataFrame, cfg: RollupConfig | None = None) -> DataFrame:
    """The raw retention tier: per-event points, token arrays untouched.

    Per-row invariant vs the source (BASELINE.json): token-array equality —
    verified by an anti-join in tests (see tests/test_invariants.py).
    """
    cfg = cfg or RollupConfig()
    return df.select(
        "doc_id", F.col(cfg.source_col).alias("source"), F.col(cfg.ts_col).alias("event_ts"),
        "tokens", F.col(cfg.value_col).alias("n_tok"), F.lit("raw").alias("tier")
    )
