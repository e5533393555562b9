"""spark-submit entrypoint: end-to-end corpus dedup.

Usage:

    zip -r dist/numalogic_spark.zip numalogic_spark
    spark-submit --master local[8] \
        --py-files dist/numalogic_spark.zip \
        jobs/dedup_job.py --input <documents path> --output <kept path> \
        [--clusters <clusters path>] [--threshold 0.8]

Pipeline: exact dedup (hash-groupBy keeper) → MinHash-LSH near-dup pairs →
connected-component clusters → keep one canonical doc per cluster.
Writes the kept corpus and (optionally) the (id, cluster_id) table;
prints a one-line JSON summary.

Dedup is a GLOBAL decision (a pair can straddle any two input splits), so
unlike the rollup job it does not run under the bucket-granular manifest —
re-runs are full runs; the output write is an atomic overwrite.

Ordering note: this job applies NO quality filter — empty/whitespace docs
are dropped from near-dup candidate generation by the pair generators
themselves (degenerate-signature guard in operators/dedup.py) but still
pass through to the kept corpus.
"""

from __future__ import annotations

import argparse
import json
import time

from numalogic_spark.operators.dedup import (
    drop_exact_dups,
    minhash_lsh_pairs,
    near_dup_clusters,
)
from numalogic_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--clusters", default=None)
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    args = ap.parse_args()

    spark = get_spark("dedup_job")
    t0 = time.time()
    docs = spark.read.parquet(args.input)
    n_in = docs.count()

    # persist: exact_kept feeds the pair generation AND the final anti-join
    # AND the summary count — without it the exact-dedup stage re-runs 3×
    exact_kept = drop_exact_dups(docs, args.text_col, args.id_col).persist()
    try:
        n_exact = exact_kept.count()
        pairs = minhash_lsh_pairs(
            exact_kept, args.text_col, args.id_col, threshold=args.threshold
        )
        clusters = near_dup_clusters(pairs)
        if args.clusters:
            clusters.write.mode("overwrite").parquet(args.clusters)
        losers = clusters.filter("id != cluster_id").selectExpr(f"id AS {args.id_col}")
        kept = exact_kept.join(losers, args.id_col, "left_anti")
        kept.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
    finally:
        exact_kept.unpersist()

    print(
        json.dumps(
            {
                "rows_in": n_in,
                "rows_kept": n_out,
                "exact_dropped": n_in - n_exact,
                "near_dup_dropped": n_exact - n_out,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
