"""Checkpoint manifest: per-partition lineage + metrics + resume.

BASELINE.json: "every stage writes per-partition lineage + metrics to a
checkpoint manifest so a killed job resumes at partition granularity".
Reference analog: TrainMsgDeduplicator's read/train-timestamp ack-gating
(/root/reference/numalogic/udfs/tools.py:220-370) — dedup at the unit-of-
work level, re-expressed here as content-fingerprinted input buckets.

Design (all content-derived — no wall-clock in the resume decision):
- work unit = hash bucket of a stable row id: bucket = pmod(xxhash64(id), B)
- fingerprint per bucket = (row_count, Σ xxhash64(struct(ALL columns))) —
  order-independent AND value-sensitive: changing any cell of any row
  (not just ids) changes the fingerprint and re-runs the bucket
- the manifest is APPEND-ONLY (it doubles as lineage history); resume
  consults only the LATEST entry per bucket (run_seq, monotonic per table)
- the job's output is written parquet-partitioned by bucket with DYNAMIC
  partition overwrite set per-writer (never via session conf), so
  re-processing a bucket is idempotent
- buckets that DISAPPEAR from the input get their output partition removed
  and a tombstone manifest row (rows_in = 0); a bucket that reappears later
  fingerprints differently from its tombstone and re-runs
- manifest row per completed bucket: bucket, run_seq, fingerprint, rows_in,
  rows_out, min/max ts, wall_sec (metric only), appended AFTER the bucket's
  data lands; a crash in between just re-runs that bucket next time.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def bucketize(df: DataFrame, id_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)))


def bucket_fingerprints(df: DataFrame, id_col: str, ts_col: str, n_buckets: int) -> DataFrame:
    row_hash = F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))
    return (
        bucketize(df, id_col, n_buckets)
        .groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            # decimal(38,0) sum: order-independent and cannot overflow even
            # at 10^12 rows (1e12 · 2^63 ≈ 9e30 < 10^38)
            F.sum(row_hash.cast("decimal(38,0)")).alias("fingerprint"),
            F.min(ts_col).alias("min_ts"),
            F.max(ts_col).alias("max_ts"),
        )
    )


def load_manifest(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """Latest entry per bucket. Reads through Spark (works for s3a/hdfs/
    local alike); a manifest with no committed file yet means a fresh run,
    and an unreadable one raises. mergeSchema handles manifests written
    before the staleness columns (completed_at, snapshot_id) existed;
    missing columns read as null, which the staleness filters treat as
    'unknown age/origin' → stale."""
    try:
        m = spark.read.option("mergeSchema", "true").parquet(manifest_path)
    except AnalysisException as e:
        # no directory (fresh run) or only a crashed first write's
        # `_temporary/` (no data file to infer a schema from); any other
        # error, a corrupt file say, is a damaged manifest
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
    for col, typ in (("completed_at", "double"), ("snapshot_id", "string")):
        if col not in m.columns:
            m = m.withColumn(col, F.lit(None).cast(typ))
    w = Window.partitionBy(BUCKET_COL).orderBy(F.col("run_seq").desc())
    return m.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _drop_bucket_partitions(spark: SparkSession, out_path: str, buckets: list[int]) -> None:
    """Remove output partitions for the given buckets (on a real lakehouse
    this is an Iceberg partition DELETE).

    Goes through the Hadoop FileSystem API so s3a/hdfs/file paths all work —
    a local-only glob would silently no-op on remote URIs while the manifest
    still recorded the bucket as removed."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for b in buckets:
        p = jvm.org.apache.hadoop.fs.Path(f"{out_path}/{BUCKET_COL}={b}")
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)


def run_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    job: Callable[[DataFrame], DataFrame],
    out_path: str,
    manifest_path: str,
    id_col: str = "doc_id",
    ts_col: str = "event_ts",
    n_buckets: int = 32,
    max_age_sec: float | None = None,
    snapshot_id: str | None = None,
) -> dict:
    """Run `job` over only the buckets whose input changed; returns a
    summary dict {processed_buckets, skipped_buckets, removed_buckets,
    rows_out}.

    `job` maps the bucketized input subset (with BUCKET_COL attached) to an
    output DataFrame that must retain BUCKET_COL (grouping keys derived per
    bucket keep it naturally).

    Staleness policy (both opt-in; the fingerprint check stays purely
    content-derived — reference analog: ``is_artifact_stale``'s
    ttl-vs-update-time test, reference/numalogic/registry/redis_registry.py:360+):

    - ``max_age_sec``: a bucket whose latest manifest entry completed more
      than this many seconds ago is recomputed even if its fingerprint
      still matches — the age-based cache invalidation a scheduled rollup
      wants when the JOB code or its params may have drifted. Entries
      written before the ``completed_at`` column existed count as stale.
    - ``snapshot_id``: caller-supplied upstream snapshot/version token
      (e.g. an Iceberg snapshot id) recorded per entry; a bucket whose
      latest entry carries a DIFFERENT token is recomputed. Use when the
      input is re-derivable-but-rewritten (fingerprint-equal rewrites) or
      when upstream lineage, not content, is the invalidation contract.
    """
    fps = bucket_fingerprints(df, id_col, ts_col, n_buckets).persist()
    latest = load_manifest(spark, manifest_path)
    if latest is not None:
        live = latest.filter(F.col("rows_in") > 0)
        fresh = live
        if max_age_sec is not None:
            fresh = fresh.filter(
                F.col("completed_at").isNotNull()
                & (F.col("completed_at") >= F.lit(float(time.time() - max_age_sec)))
            )
        if snapshot_id is not None:
            fresh = fresh.filter(F.col("snapshot_id") == F.lit(snapshot_id))
        done = fresh.select(BUCKET_COL, "fingerprint", "rows_in").distinct()
        todo_df = fps.join(done, [BUCKET_COL, "fingerprint", "rows_in"], "left_anti")
        run_seq = (latest.agg(F.max("run_seq")).collect()[0][0] or 0) + 1
        gone = [
            r[BUCKET_COL]
            for r in live.select(BUCKET_COL)
            .join(fps.select(BUCKET_COL), BUCKET_COL, "left_anti")
            .collect()
        ]
    else:
        todo_df = fps
        run_seq = 1
        gone = []
    todo = sorted(r[BUCKET_COL] for r in todo_df.select(BUCKET_COL).collect())
    all_buckets = sorted(r[BUCKET_COL] for r in fps.select(BUCKET_COL).collect())
    skipped = [b for b in all_buckets if b not in set(todo)]

    if gone:
        _drop_bucket_partitions(spark, out_path, gone)
        tombstones = spark.createDataFrame(
            [(int(b), 0, 0) for b in gone], f"{BUCKET_COL} long, rows_in long, rows_out long"
        ).select(
            BUCKET_COL,
            F.lit(0).cast("decimal(38,0)").alias("fingerprint"),
            "rows_in",
            F.lit(None).cast(df.schema[ts_col].dataType).alias("min_ts"),
            F.lit(None).cast(df.schema[ts_col].dataType).alias("max_ts"),
            "rows_out",
            F.lit(0.0).alias("wall_sec"),
            F.lit(run_seq).alias("run_seq"),
            F.lit(float(time.time())).alias("completed_at"),
            F.lit(snapshot_id).cast("string").alias("snapshot_id"),
        )
        tombstones.write.mode("append").parquet(manifest_path)

    if not todo:
        fps.unpersist()
        return {"processed_buckets": [], "skipped_buckets": skipped,
                "removed_buckets": gone, "rows_out": 0}

    subset = bucketize(df, id_col, n_buckets).filter(F.col(BUCKET_COL).isin(todo))
    t0 = time.time()
    out = job(subset)
    assert BUCKET_COL in out.columns, "job output must retain the bucket column"
    # Drop every todo bucket's old partition up front: dynamic overwrite only
    # replaces partitions PRESENT in the new output, so a re-run bucket whose
    # new result is EMPTY would otherwise keep its stale partition (and its
    # stale rows would be counted into rows_out below). A crash between this
    # delete and the write is safe — the bucket's manifest entry is only
    # appended after the data lands, so the next run re-processes it.
    _drop_bucket_partitions(spark, out_path, todo)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")  # per-writer, not session conf
        .partitionBy(BUCKET_COL)
        .parquet(out_path)
    )
    wall = time.time() - t0

    try:
        rows_out = (
            spark.read.parquet(out_path)
            .filter(F.col(BUCKET_COL).isin(todo))
            .groupBy(BUCKET_COL)
            .count()
            .withColumnRenamed("count", "rows_out")
        )
    except AnalysisException as e:
        # an all-empty output leaves no data files to infer a schema from
        # (every todo partition was dropped up front and the write emitted
        # nothing); record zero rows per bucket
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        rows_out = spark.createDataFrame([], f"{BUCKET_COL} long, rows_out long")
    entries = (
        fps.filter(F.col(BUCKET_COL).isin(todo))
        .join(rows_out, BUCKET_COL, "left")
        .na.fill({"rows_out": 0})
        .withColumn("wall_sec", F.lit(float(wall)))
        .withColumn("run_seq", F.lit(run_seq))
        .withColumn("completed_at", F.lit(float(time.time())))
        .withColumn("snapshot_id", F.lit(snapshot_id).cast("string"))
    )
    entries.write.mode("append").parquet(manifest_path)
    fps.unpersist()
    return {
        "processed_buckets": todo,
        "skipped_buckets": skipped,
        "removed_buckets": gone,
        "rows_out": int(sum(r["rows_out"] for r in entries.select("rows_out").collect())),
    }
