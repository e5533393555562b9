"""Dump formatted physical plans of the engine's key operators → PLANS.md.

Plan-quality evidence: column pruning at the scan (rollup never reads
`tokens`), filter pushdown, exchange reuse in the tier computation,
broadcast joins for fitted stats, and whole-stage codegen coverage.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from numalogic_spark.datagen import gen_tokens_spark
from numalogic_spark.functions.scalers import fit_stddev_threshold, score_threshold
from numalogic_spark.operators.gapfill import gapfill_linear
from numalogic_spark.operators.rollup import (
    RollupConfig,
    histogram,
    histogram_with_fingerprint,
    rollup_tiers_fused,
)
from numalogic_spark.session import get_spark


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("plans", cores=2, shuffle_partitions=4)
    tmp = tempfile.TemporaryDirectory()
    path = os.path.join(tmp.name, "plans_tokens.parquet")
    gen_tokens_spark(spark, 2_000, n_sources=5).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)

    sections = []
    cfg = RollupConfig()
    t1m = rollup_tiers_fused(histogram(df, cfg, "minute"), cfg).filter(F.col("tier") == "1m")
    sections.append(("rollup tier 1m (the fused derive filtered on `tier`: the Filter sits right after the Generate, below the aggregate's Exchange; ReadSchema has no `tokens` column — pruned)", grab(t1m)))
    sections.append(("gap-fill 1m (ONE exchange+sort: lead() neighbors, sequence-exploded gap rows)", grab(gapfill_linear(t1m, "1m"))))
    fused = rollup_tiers_fused(histogram_with_fingerprint(df, RollupConfig(), "minute"), RollupConfig())
    sections.append(("fused all-tier rollup (invariant fingerprint in the same scan; one window chain for 1m/1h/1d)", grab(fused)))

    stats = fit_stddev_threshold(df, ["n_tok"], by=["source"])
    sections.append(("fitted threshold score (stats joined back via BroadcastHashJoin)", grab(score_threshold(df, stats, ["n_tok"], by=["source"]))))

    filtered = df.filter(F.col("source") == "src_001").select("source", "event_ts", "n_tok")
    sections.append(("filter+projection (PushedFilters reach the parquet scan)", grab(filtered)))

    # a small per-series event frame and its hourly sums, shared by the
    # PromQL, join and sketch operators below
    ev = spark.range(5000).select(
        (F.col("id") % 5).cast("string").alias("source"),
        (F.col("id") * 60).alias("ts_s"),
        F.col("id").alias("event_id"),
        (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("value"),
    )
    hourly = ev.groupBy("source", (F.col("ts_s") - F.col("ts_s") % 3600).alias("bucket_s")).agg(
        F.sum("value").alias("val")
    )

    # counter semantics, downsampling, as-of, sketch
    from numalogic_spark.operators.joins import asof_join_backward
    from numalogic_spark.operators.promql import (
        counter_rate,
        m4_downsample,
        sessionize,
    )
    from numalogic_spark.operators.sketches import hll_distinct

    sections.append((
        "counter rate/increase/resets (ONE exchange: lag window + reset-adjusted deltas + map-side bucket agg on the same partitioning)",
        grab(counter_rate(ev)),
    ))
    sections.append((
        "M4 downsample (ONE exchange of partial struct-extremes — 4 points per pixel shuffle, not rows)",
        grab(m4_downsample(ev)),
    ))
    right = hourly.select("source", (F.col("bucket_s") + 3600).alias("rt"), "val")
    sections.append((
        "as-of join (union + one sort; running last(struct) carry — no range-join triangle)",
        grab(asof_join_backward(ev.select("source", "ts_s", "event_id", "value"), right, right_ts="rt")),
    ))
    sections.append((
        "HLL distinct sketch (register groupBy partial-aggregates map-side; dense grid is groups x broadcast literals)",
        grab(hll_distinct(ev.select("source", "ts_s", (F.col("event_id") % 100).alias("uid")), "uid", ["source"])),
    ))
    sections.append((
        "sessionize (boundary lag + running session ids off one sort; per-session agg map-side combinable)",
        grab(sessionize(ev.select(F.col("source").alias("user_id"), "ts_s", "event_id", "value"))),
    ))

    # sketch + interval operators
    from numalogic_spark.operators.joins import interval_overlap_join
    from numalogic_spark.operators.sketches import cms_sketch

    iv_l = ev.select("source", F.col("event_id").alias("lid"),
                     F.col("ts_s").alias("start_s"), (F.col("ts_s") + 1000).alias("end_s")).limit(500)
    iv_r = ev.select("source", F.col("event_id").alias("rid"),
                     (F.col("ts_s") + 500).alias("start_s"), (F.col("ts_s") + 1500).alias("end_s")).limit(500)
    sections.append((
        "interval-overlap join (grid-cell explode -> equi-join -> pair dedup -> exact verify; no per-key cartesian)",
        grab(interval_overlap_join(iv_l, iv_r, key_cols=("source",), l_id="lid", r_id="rid", grid_s=1000)),
    ))
    sections.append((
        "CMS sketch build (depth-cell explode partial-aggregates map-side; weighted input hashes once per distinct item)",
        grab(cms_sketch(ev.select("source", (F.col("event_id") % 50).cast("string").alias("item")), "item", ["source"])),
    ))

    # windowed AE scoring as the benchmark's backfill runs it: strided
    # z-scored windows, then the LSTM autoencoder's Arrow kernel
    from numalogic_spark.operators.score import demo_weights, score_windows, strided_z_windows

    sections.append((
        "AE window scoring (`score_windows` over `strided_z_windows`, LSTM family: ONE exchange on source feeds the lag-grid window; z-scoring is JVM projections below the ArrowEvalPython, the forward pass is that one Arrow kernel, err_mean/err_max a JVM projection above it)",
        grab(score_windows(strided_z_windows(ev, 8, 4), "lstm", demo_weights("lstm", 8))),
    ))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("# Physical plans of key operators (`.explain(\"formatted\")`)\n\n")
        f.write("Generated by tools/explain_plans.py on the synthetic token table.\n")
        for title, text in sections:
            f.write(f"\n## {title}\n\n```\n{text}\n```\n")
    print("wrote PLANS.md")
    spark.stop()
    tmp.cleanup()


if __name__ == "__main__":
    main()
