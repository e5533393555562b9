from pyspark.sql import functions as F

from numalogic_spark.operators.gapfill import gapfill_linear
from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused
from numalogic_spark.oracle import gapfill_oracle, rollup_oracle
from tests.conftest import assert_frames_match


def _tier_1m(tokens_df):
    cfg = RollupConfig()
    return rollup_tiers_fused(histogram(tokens_df, cfg, "minute"), cfg).filter(F.col("tier") == "1m")


def test_gapfill_matches_oracle(spark, tokens_df, tokens_pdf):
    got = gapfill_linear(_tier_1m(tokens_df), "1m").toPandas()
    exp = gapfill_oracle(rollup_oracle(tokens_pdf, "1m"), "1m")
    assert got["is_interpolated"].any(), "datagen gaps should produce interpolated buckets"
    assert_frames_match(
        got,
        exp,
        sort_cols=["source", "bucket_ts"],
        float_cols=("count", "n_tok_sum", "n_tok_mean", "n_tok_p95", "token_rate"),
        atol=1e-9,
    )


def test_gapfill_no_extrapolation(spark, tokens_df):
    gf = gapfill_linear(_tier_1m(tokens_df), "1m").toPandas()
    # boundaries are real rows; every interpolated row has finite values
    for src, g in gf.groupby("source"):
        g = g.sort_values("bucket_ts")
        assert not g.iloc[0]["is_interpolated"]
        assert not g.iloc[-1]["is_interpolated"]
    assert gf[["count", "n_tok_mean"]].notna().all().all()


def test_gapfill_edge_cases(spark):
    """Hand-built edge battery: single-row series, adjacent buckets, a
    1-bucket gap (midpoint), a long gap (exact linear ramp), and source
    isolation — the single-pass lead()+sequence plan must handle all."""
    import datetime as dt

    import pandas as pd

    from numalogic_spark.operators.gapfill import gapfill_linear

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(src, minute, v):
        return {
            "source": src,
            "bucket_ts": t0 + dt.timedelta(minutes=minute),
            "count": float(v), "n_tok_sum": float(v), "n_tok_mean": float(v),
            "n_tok_p95": float(v), "token_rate": float(v),
        }

    rows = [
        row("lonely", 0, 5.0),          # single-row series
        row("dense", 0, 1.0), row("dense", 1, 2.0),   # adjacent, no gap
        row("mid", 0, 10.0), row("mid", 2, 20.0),     # one missing bucket
        row("ramp", 0, 0.0), row("ramp", 10, 100.0),  # nine missing buckets
    ]
    out = gapfill_linear(
        spark.createDataFrame(pd.DataFrame(rows)), "1m"
    ).toPandas().sort_values(["source", "bucket_ts"], ignore_index=True)

    by = {s: g.reset_index(drop=True) for s, g in out.groupby("source")}
    assert len(by["lonely"]) == 1 and not by["lonely"]["is_interpolated"].any()
    assert len(by["dense"]) == 2 and not by["dense"]["is_interpolated"].any()
    m = by["mid"]
    assert len(m) == 3 and list(m["is_interpolated"]) == [False, True, False]
    assert m.loc[1, "n_tok_mean"] == 15.0  # exact midpoint
    r = by["ramp"]
    assert len(r) == 11 and r["is_interpolated"].sum() == 9
    assert list(r["n_tok_mean"]) == [float(10 * i) for i in range(11)]  # exact ramp
    # no cross-source leakage: every source keeps its own bucket range
    assert out.groupby("source")["bucket_ts"].min().to_dict() == {
        s: t0 for s in ("lonely", "dense", "mid", "ramp")
    }


def test_max_gap_bounds_the_horizon(spark):
    """Gaps longer than max_gap_s are staleness, not gaps: left unfilled.
    Shorter gaps fill identically to the unbounded default."""
    import pandas as pd

    t0 = pd.Timestamp("2024-03-01 00:00:00")

    def row(src, minutes, v):
        return {
            "source": src, "bucket_ts": t0 + pd.Timedelta(minutes=minutes),
            "tier": "1m", "count": 1.0, "n_tok_sum": v, "n_tok_mean": v,
            "n_tok_p95": v, "token_rate": v,
        }

    rows = [
        row("short", 0, 10.0), row("short", 4, 50.0),      # 4-min gap: fill
        row("long", 0, 10.0), row("long", 10, 100.0),      # 10-min gap: stale
    ]
    out = gapfill_linear(
        spark.createDataFrame(pd.DataFrame(rows)), "1m", max_gap_s=5 * 60
    ).toPandas()
    by = {s: g.sort_values("bucket_ts") for s, g in out.groupby("source")}
    assert len(by["short"]) == 5 and by["short"]["is_interpolated"].sum() == 3
    assert len(by["long"]) == 2 and not by["long"]["is_interpolated"].any()
