"""spark-submit entrypoint: STREAMING 1m rollup (the live half of the
kappa layout — stream appends the 1m tier, the batch rollup derives
1h/1d from it; see streaming/rollup_stream.py).

Usage:

    zip -r dist/numalogic_spark.zip numalogic_spark
    spark-submit --master local[8] \
        --py-files dist/numalogic_spark.zip \
        jobs/stream_job.py --input <token parquet dir> --output <1m tier dir> \
        --checkpoint <checkpoint dir> [--window "1 minute"] \
        [--watermark "2 minutes"] [--ewm <smoothed dir>] [--once]

Design notes for the cluster deployment this mirrors:

- file source with `maxFilesPerTrigger` — swap for Kafka by changing the
  reader only; every transformation is source-agnostic;
- watermarked tumbling windows in APPEND mode: a bucket is emitted once,
  when the watermark passes its end — exactly-once tier rows under the
  checkpointed sink (the micro-batch analog of the manifest's
  bucket-granular idempotence);
- output parquet partitioned by source, so the batch rollup reading the
  1m tier prunes partitions;
- optional stateful EWM side-output (applyInPandasWithState) demonstrates
  custom per-series state at scale: state is (source)-keyed, O(1) per
  series, TTL-free (series set is bounded).

`--once` uses trigger(availableNow=True): drain whatever is in the input
and stop — the smoke/backfill mode (and what the pytest drives).
"""

from __future__ import annotations

import argparse
import json

from pyspark.errors import AnalysisException

from numalogic_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--window", default="1 minute")
    ap.add_argument("--watermark", default="2 minutes")
    ap.add_argument("--ewm", default=None,
                    help="also write stateful-EWM smoothed values here")
    ap.add_argument("--once", action="store_true",
                    help="availableNow trigger: drain input and exit")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--schema-from", default=None,
                    help="parquet path to infer the stream schema from when "
                         "--input is still empty at startup (a stream job "
                         "deployed BEFORE its producer needs one; schema "
                         "inference requires at least one data file)")
    args = ap.parse_args()

    spark = get_spark("stream_job")
    try:
        static = spark.read.parquet(args.input)  # schema from the at-rest table
    except AnalysisException as e:
        # an absent or still-empty input dir; any other error, a corrupt
        # file say, is a damaged input and propagates
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        if not args.schema_from:
            raise SystemExit(
                "--input has no readable parquet yet; pass --schema-from "
                "<existing parquet> to start the stream before data lands"
            )
        static = spark.read.parquet(args.schema_from)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", args.max_files_per_trigger)
        .parquet(args.input)
    )

    from numalogic_spark.streaming.rollup_stream import streaming_ewm, streaming_rollup

    tiers = streaming_rollup(stream, window=args.window, watermark=args.watermark)
    writer = (
        tiers.writeStream.format("parquet")
        .option("path", args.output)
        .option("checkpointLocation", args.checkpoint)
        .partitionBy("source")
        .outputMode("append")
    )
    if args.once:
        writer = writer.trigger(availableNow=True)
    q = writer.start()

    q2 = None
    if args.ewm:
        ewm = streaming_ewm(stream, value_col="n_tok")
        w2 = (
            ewm.writeStream.format("parquet")
            .option("path", args.ewm)
            .option("checkpointLocation", args.checkpoint + "_ewm")
            .outputMode("append")
        )
        if args.once:
            w2 = w2.trigger(availableNow=True)
        q2 = w2.start()

    q.awaitTermination()
    if q2 is not None:
        q2.awaitTermination()
    # read back with the tier schema: an append-mode sink whose watermark
    # finalized zero buckets leaves only an empty _spark_metadata log, which
    # has no file to infer a schema from but is a successful (if empty) drain
    out = spark.read.schema(tiers.schema).parquet(args.output)
    summary = {
        "tier_rows": out.count(),
        "sources": out.select("source").distinct().count(),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
