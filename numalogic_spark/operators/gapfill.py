"""Linear-interpolation gap-fill over a rollup tier table.

The reference has NO gap-fill (missing Druid buckets are simply absent and
missing values are imputed 0 — /root/reference/numalogic/udfs/tools.py:52,
trainer/_base.py:399); BASELINE.json adds it as a target capability. We
generate the bucket spine declaratively with sequence()+explode (partition-
local, no shuffle beyond the min/max agg) and interpolate with
last/first(ignorenulls) window functions — all JVM-side, no Python.

Only interior gaps are filled (both neighbors exist by construction since
the spine spans [min,max] per source). Interpolated metric values are
doubles; `is_interpolated` marks synthetic rows for lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from numalogic_spark.operators.rollup import TIERS

METRIC_COLS = ["count", "n_tok_sum", "n_tok_mean", "n_tok_p95", "token_rate"]


def bucket_spine(tier_df: DataFrame, tier: str) -> DataFrame:
    """Per-source dense bucket grid spanning [min(bucket_ts), max(bucket_ts)].

    Uses the tier's CALENDAR step (INTERVAL 1 DAY, not 86400 SECOND) so the
    spine stays aligned with date_trunc buckets across DST transitions under
    non-UTC session timezones."""
    _, _, step = TIERS[tier]
    return (
        tier_df.groupBy("source")
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select(
            "source",
            F.explode(F.sequence("lo", "hi", F.expr(step))).alias("bucket_ts"),
        )
    )


def gapfill_linear(
    tier_df: DataFrame,
    tier: str,
    metric_cols: list[str] | None = None,
    max_gap_s: int | None = None,
) -> DataFrame:
    """Linear interpolation of interior gaps between consecutive real buckets.

    Returns the tier schema with metric columns as double plus
    ``is_interpolated: boolean``.

    ``max_gap_s`` bounds the gap horizon: a silence LONGER than this many
    seconds is left unfilled (it is staleness, not a gap — see
    retention.staleness_report). Default None fills every interior gap
    (the original behavior, and what the gapfill_1m_events oracle
    replays). Incremental maintenance (jobs/refresh_job.py) requires a
    finite horizon so a delta's interpolation blast radius is bounded.

    Plan shape: ONE exchange (partitionBy source) + ONE sort feeding a
    ``lead()`` window, then a single ``explode`` that emits each real row
    TOGETHER with the interpolated buckets of the gap that follows it (the
    two endpoint values are already on the row) — no spine table, no
    spine⋈tier join, no union of branches that would evaluate the upstream
    tier twice. (The previous shape — dense-spine left-join + forward/
    backward running frames — carried 4 exchanges and 3 sorts; at 1000
    executors those extra barriers serialize small tiers.) Realness stays
    positional: a real row is never rewritten, whatever its metric values,
    and only strictly interior buckets are generated, so no extrapolation
    by construction.
    """
    metric_cols = metric_cols or METRIC_COLS
    _, _, step = TIERS[tier]
    w = Window.partitionBy("source").orderBy("bucket_ts")
    nxt = tier_df.select(
        "source",
        "bucket_ts",
        *[F.col(c).cast("double").alias(c) for c in metric_cols],
    ).select(
        "*",
        F.lead("bucket_ts").over(w).alias("_nxt_ts"),
        *[F.lead(c).over(w).alias(f"_nxt_{c}") for c in metric_cols],
    )
    own = F.struct(
        F.col("bucket_ts").alias("bucket_ts"),
        *[F.col(c).alias(c) for c in metric_cols],
        F.lit(False).alias("is_interpolated"),
    )
    t0 = F.unix_timestamp("bucket_ts")
    t1 = F.unix_timestamp("_nxt_ts")

    def interp(b):
        frac = (F.unix_timestamp(b) - t0) / (t1 - t0)
        return F.struct(
            b.alias("bucket_ts"),
            *[
                (F.col(c) + frac * (F.col(f"_nxt_{c}") - F.col(c))).alias(c)
                for c in metric_cols
            ],
            F.lit(True).alias("is_interpolated"),
        )

    # >= 2 steps, not "> 1 step": on a bucket-aligned grid the two are
    # equivalent, but on misaligned input (e.g. rows 1.5 steps apart) the
    # looser test would hand F.sequence a start > stop and crash the job —
    # such sub-2-step gaps have no interior bucket to fill and pass through
    has_gap = F.col("_nxt_ts").isNotNull() & (
        F.col("bucket_ts") + F.expr(step) + F.expr(step) <= F.col("_nxt_ts")
    )
    if max_gap_s is not None:
        has_gap = has_gap & ((t1 - t0) <= F.lit(int(max_gap_s)))
    rows = F.when(
        has_gap,
        F.concat(
            F.array(own),
            F.transform(
                F.sequence(
                    F.col("bucket_ts") + F.expr(step),
                    F.col("_nxt_ts") - F.expr(step),
                    F.expr(step),
                ),
                interp,
            ),
        ),
    ).otherwise(F.array(own))
    return nxt.select("source", F.explode(rows).alias("_r")).select(
        "source",
        F.col("_r.bucket_ts").alias("bucket_ts"),
        F.lit(tier).alias("tier"),
        *[F.col(f"_r.{c}").alias(c) for c in metric_cols],
        F.col("_r.is_interpolated").alias("is_interpolated"),
    )
