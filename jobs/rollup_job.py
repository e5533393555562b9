"""spark-submit entrypoint: the full rollup job with manifest resume.

Usage (local or cluster — only --master and the catalog config change):

    zip -r dist/numalogic_spark.zip numalogic_spark
    spark-submit --master local[8] \
        --py-files dist/numalogic_spark.zip \
        jobs/rollup_job.py --input <tokens path> --output <tier path> \
        --manifest <manifest path> [--gen-rows N] [--buckets 32]

Runs: token-invariant fingerprint → 1m/1h/1d tiers under the
checkpoint manifest (resume at bucket granularity) → gap-fill → Gorilla
compression blocks. Prints a one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from numalogic_spark.functions.compression import compress_tier
from numalogic_spark.operators.gapfill import gapfill_linear
from numalogic_spark.operators.rollup import (
    RollupConfig,
    histogram,
    histogram_with_fingerprint,
    invariant_from_histogram,
    rollup_tiers_fused,
)
from numalogic_spark.plans.manifest import BUCKET_COL, run_with_manifest
from numalogic_spark.session import get_spark


def tier_job(subset):
    """Per-bucket 1m tier via the engine's fused tier derivation, with the
    manifest bucket column carried through as an extra grouping key."""
    cfg = RollupConfig()
    h1m = histogram(subset, cfg, "minute", extra_keys=[BUCKET_COL])
    tiers = rollup_tiers_fused(h1m, cfg, extra_keys=[BUCKET_COL])
    return tiers.filter(F.col("tier") == "1m")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--gen-rows", type=int, default=0, help="generate the input first (smoke)")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--max-age-sec", type=float, default=None,
                    help="recompute buckets whose manifest entry is older (staleness TTL)")
    ap.add_argument("--snapshot-id", default=None,
                    help="upstream snapshot token; buckets recorded under a different one recompute")
    args = ap.parse_args()

    spark = get_spark("rollup_job")
    t0 = time.time()
    if args.gen_rows:
        from numalogic_spark.datagen import gen_tokens_spark

        gen_tokens_spark(spark, args.gen_rows, n_sources=20).write.mode("overwrite").parquet(args.input)

    df = spark.read.parquet(args.input)

    # ONE fingerprinted histogram scan yields the global invariant, the 1m
    # tier, AND per-resume-bucket invariant lineage — the tokens column
    # (the dominant I/O at 10^12 rows) is read once here instead of three
    # separate passes (fp scan / lineage scan / tier scan).
    cfg = RollupConfig()
    from numalogic_spark.plans.manifest import bucketize

    hb = histogram_with_fingerprint(
        bucketize(df, "doc_id", args.buckets), cfg, "minute", extra_keys=[BUCKET_COL]
    ).persist()
    fp = invariant_from_histogram(hb).collect()[0]
    # per-bucket invariant lineage: any resumed bucket can be re-verified
    # against the raw table without a full-table rescan
    hb.groupBy(BUCKET_COL).agg(
        F.bit_xor("fp").alias("token_fingerprint"),
        F.sum("cnt").alias("rows"),
        # exact long arithmetic — see invariant_from_histogram
        F.sum(F.col("v").cast("long") * F.col("cnt")).alias("tokens"),
    ).write.mode("overwrite").parquet(args.manifest + "_bucket_invariants")

    summary = run_with_manifest(
        spark, df, tier_job, args.output, args.manifest, n_buckets=args.buckets,
        max_age_sec=args.max_age_sec, snapshot_id=args.snapshot_id,
    )

    # without extra keys the fused derive merges the resume buckets: every
    # global tier from the same histogram, persisted once
    tiers = rollup_tiers_fused(hb, cfg).persist()
    t1m = tiers.filter(F.col("tier") == "1m")

    # every downstream stage writes its own per-partition manifest too —
    # gap-fill and compression are keyed by source (a series must stay in
    # one resume bucket: interpolation and block layout are per-series)
    def gapfill_stage(subset):
        out = gapfill_linear(subset.drop(BUCKET_COL), "1m")
        return out.withColumn(BUCKET_COL, F.pmod(F.xxhash64("source"), F.lit(args.buckets)))

    def compress_stage(subset):
        out = compress_tier(subset.drop(BUCKET_COL), "n_tok_mean")
        return out.withColumn(BUCKET_COL, F.pmod(F.xxhash64("source"), F.lit(args.buckets)))

    gf_summary = run_with_manifest(
        spark, t1m, gapfill_stage, args.output + "_gapfill", args.manifest + "_gapfill",
        id_col="source", ts_col="bucket_ts", n_buckets=args.buckets,
        max_age_sec=args.max_age_sec, snapshot_id=args.snapshot_id,
    )
    cp_summary = run_with_manifest(
        spark, t1m, compress_stage, args.output + "_blocks", args.manifest + "_blocks",
        id_col="source", ts_col="bucket_ts", n_buckets=args.buckets,
        max_age_sec=args.max_age_sec, snapshot_id=args.snapshot_id,
    )

    out = {
        "rows": fp["rows"],
        "tokens": fp["tokens"],
        "token_fingerprint": fp["fp"],
        "processed_buckets": len(summary["processed_buckets"]),
        "skipped_buckets": len(summary["skipped_buckets"]),
        "gapfill_processed": len(gf_summary["processed_buckets"]),
        "gapfill_skipped": len(gf_summary["skipped_buckets"]),
        "blocks_processed": len(cp_summary["processed_buckets"]),
        "blocks_skipped": len(cp_summary["skipped_buckets"]),
        "tier_1m_points": t1m.count(),
        "tier_1h_points": tiers.filter(F.col("tier") == "1h").count(),
        "gapfilled_points": spark.read.parquet(args.output + "_gapfill").count(),
        "compressed_blocks": spark.read.parquet(args.output + "_blocks").count(),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
