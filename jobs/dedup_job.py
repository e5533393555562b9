"""spark-submit entrypoint: end-to-end corpus dedup.

Usage:

    zip -r dist/numalogic_spark.zip numalogic_spark
    spark-submit --master local[8] \
        --py-files dist/numalogic_spark.zip \
        jobs/dedup_job.py --input <documents path> --output <kept path> \
        [--clusters <clusters path>] [--threshold 0.8] \
        [--embeddings <embeddings path> --semantic-threshold 0.95 \
         --centroids 64 --emb-id-col doc_id]

Pipeline: exact dedup (hash-groupBy keeper) → MinHash-LSH near-dup pairs →
connected-component clusters → keep one canonical doc per cluster →
(optional) SemDeDup semantic prune over an embeddings table keyed by the
document id (`--emb-id-col`; Abbas et al. 2023 — k-means cluster-scoped
cosine near-dup removal keeping the member least similar to its
centroid). Writes the kept corpus and (optionally) the (id, cluster_id)
table; prints a one-line JSON summary.

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
    ap.add_argument("--embeddings", default=None,
                    help="optional embeddings table for the SemDeDup stage")
    ap.add_argument("--emb-id-col", default=None,
                    help="doc-id column in the embeddings table (default: --id-col)")
    ap.add_argument("--emb-col", default="embedding")
    ap.add_argument("--semantic-threshold", type=float, default=0.95)
    ap.add_argument("--centroids", type=int, default=64)
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
        sem_dropped = 0
        if args.embeddings:
            from numalogic_spark.operators.dedup import semdedup_prune
            from numalogic_spark.operators.similarity import ivf_train_centroids

            emb_id = args.emb_id_col or args.id_col
            embs = spark.read.parquet(args.embeddings)
            cents = ivf_train_centroids(
                embs, n_centroids=args.centroids, vec_col=args.emb_col,
                portable_order_id=emb_id,
            )
            pruned_ids = (
                semdedup_prune(
                    embs, cents, vec_col=args.emb_col, id_col=emb_id,
                    threshold=args.semantic_threshold,
                )
                .filter("NOT kept")
                .selectExpr(f"id AS {args.id_col}")
            )
            before = kept.count()
            kept = kept.join(pruned_ids, args.id_col, "left_anti")
            sem_dropped = before - kept.count()
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
                "near_dup_dropped": n_exact - n_out - sem_dropped,
                "semantic_dropped": sem_dropped,
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
