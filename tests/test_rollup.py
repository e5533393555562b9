"""Rollup tiers vs pandas/numpy oracle — exact-match gate.

Ports the reference's aggregation semantics checks (Druid granularity
rollup, /root/reference/tests/connectors/test_druid.py:39-140) onto the
token table: counts/sums exact, mean = sum/count, p95 == numpy.percentile
(linear) at EVERY tier of the fused derive.
"""

import numpy as np
from pyspark.sql import functions as F

from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused
from numalogic_spark.oracle import rollup_oracle
from tests.conftest import assert_frames_match


def _tiers(df, cfg=None):
    cfg = cfg or RollupConfig()
    return rollup_tiers_fused(histogram(df, cfg, "minute"), cfg)


def test_cascade_matches_oracle(spark, tokens_df, tokens_pdf):
    tiers = _tiers(tokens_df)
    for tier in ("1m", "1h", "1d"):
        got = tiers.filter(F.col("tier") == tier).toPandas()
        exp = rollup_oracle(tokens_pdf, tier)
        assert_frames_match(
            got,
            exp,
            sort_cols=["source", "bucket_ts"],
            float_cols=("n_tok_mean", "n_tok_p95", "token_rate"),
            atol=1e-9,
        )


def test_cascade_consistency(spark, tokens_df):
    """1h re-aggregation must equal direct-from-raw 1h (lossless merge)."""
    tiers = _tiers(tokens_df)
    t1m = tiers.filter(F.col("tier") == "1m").toPandas()
    t1h = tiers.filter(F.col("tier") == "1h").toPandas()
    # count/sum at 1h == sum of 1m members
    t1m["h"] = t1m["bucket_ts"].dt.floor("h")
    agg = t1m.groupby(["source", "h"])[["count", "n_tok_sum"]].sum().reset_index()
    m = t1h.merge(agg, left_on=["source", "bucket_ts"], right_on=["source", "h"])
    assert len(m) == len(t1h)
    np.testing.assert_array_equal(m["count_x"].to_numpy(), m["count_y"].to_numpy())
    np.testing.assert_array_equal(m["n_tok_sum_x"].to_numpy(), m["n_tok_sum_y"].to_numpy())


def test_token_array_invariant(spark, tokens_df):
    """Per-row invariant vs source: token arrays pass through unchanged."""
    from numalogic_spark.operators.rollup import raw_tier

    out = raw_tier(tokens_df)
    bad = (
        tokens_df.alias("s")
        .join(out.alias("o"), "doc_id")
        .filter("s.tokens != o.tokens")
        .count()
    )
    assert bad == 0
    assert out.count() == tokens_df.count()


def test_fingerprinted_histogram(spark, tokens_df):
    """histogram_with_fingerprint: same histogram as histogram(), and the
    derived global invariant equals a direct raw-tier aggregation."""
    from numalogic_spark.operators.rollup import histogram_with_fingerprint, invariant_from_histogram

    cfg = RollupConfig()
    hf = histogram_with_fingerprint(tokens_df, cfg, "minute")
    assert_frames_match(
        hf.drop("fp").toPandas(),
        histogram(tokens_df, cfg, "minute").toPandas(),
        sort_cols=["source", "bucket_ts", "v"],
        float_cols=("v",),
        atol=0.0,
    )
    got = invariant_from_histogram(hf).collect()[0]
    exp = tokens_df.select(
        F.bit_xor(F.xxhash64("tokens")).alias("fp"),
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tok").alias("tokens"),
    ).collect()[0]
    assert (got["fp"], got["rows"], got["tokens"]) == (exp["fp"], exp["rows"], exp["tokens"])


def test_tier_filter_sits_below_first_exchange(spark, tokens_df):
    """A ``tier`` filter on the fused derive is pushed right onto the
    explode, below the fused aggregate's first Exchange: a single-tier
    caller shuffles and aggregates only its own tier's rows."""
    t1m = _tiers(tokens_df).filter(F.col("tier") == "1m")
    lines = t1m._jdf.queryExecution().executedPlan().toString().splitlines()
    tier_exchanges = [
        i for i, line in enumerate(lines)
        if "Exchange hashpartitioning(" in line and "tier#" in line
    ]
    filters = [i for i, line in enumerate(lines) if "Filter" in line and "tier = 1m" in line]
    assert tier_exchanges and len(filters) == 1, "\n".join(lines)
    # the plan is one chain, so a deeper node prints on a later line
    assert filters[0] > max(tier_exchanges), "\n".join(lines)
    assert "Generate explode(" in lines[filters[0] + 1], "\n".join(lines)
