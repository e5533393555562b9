"""Checkpoint-manifest resume semantics (BASELINE.json lineage requirement)."""

import numpy as np

from jobs.rollup_job import tier_job as _job  # per-bucket 1m rollup of the batch job
from numalogic_spark.plans.manifest import BUCKET_COL, run_with_manifest
from numalogic_spark.plans.skew import hot_keys, salted_repartition


def test_run_skip_resume(spark, tokens_df, tmp_path):
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")

    r1 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    assert len(r1["processed_buckets"]) == 8 and not r1["skipped_buckets"]
    total1 = spark.read.parquet(out).count()

    # identical input → everything skipped, output untouched
    r2 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    assert not r2["processed_buckets"] and len(r2["skipped_buckets"]) == 8
    assert spark.read.parquet(out).count() == total1

    # changed input (one source dropped) → only affected buckets re-run
    changed = tokens_df.filter("source != 'src_001'")
    r3 = run_with_manifest(spark, changed, _job, out, man, n_buckets=8)
    assert 0 < len(r3["processed_buckets"]) <= 8
    # reprocessed buckets were overwritten in place (dynamic overwrite)
    assert spark.read.parquet(out).select(BUCKET_COL).distinct().count() == 8
    # latest-wins: reverting to the ORIGINAL input must re-run the buckets
    # the changed run overwrote (the stale old fingerprint must not match)
    r4 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    assert sorted(r4["processed_buckets"]) == sorted(r3["processed_buckets"])


def test_value_change_detected(spark, tokens_df, tmp_path):
    """Fingerprints are value-sensitive: same ids/counts, different values
    → affected buckets re-run (review finding)."""
    from pyspark.sql import functions as F

    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    mutated = tokens_df.withColumn(
        "n_tok", F.when(F.col("source") == "src_002", F.col("n_tok") + 1).otherwise(F.col("n_tok"))
    )
    r = run_with_manifest(spark, mutated, _job, out, man, n_buckets=8)
    assert len(r["processed_buckets"]) > 0  # same doc_ids, same counts — still re-ran


def test_vanished_bucket_cleanup(spark, tokens_df, tmp_path):
    """Buckets that disappear from the input get their output partition
    removed and a tombstone row (review finding)."""
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    from numalogic_spark.plans.manifest import bucketize

    keep_buckets = [0, 1, 2, 3]
    shrunk = bucketize(tokens_df, "doc_id", 8).filter(
        f"{BUCKET_COL} in (0,1,2,3)"
    ).drop(BUCKET_COL)
    r = run_with_manifest(spark, shrunk, _job, out, man, n_buckets=8)
    assert sorted(r["removed_buckets"]) == [4, 5, 6, 7]
    got = spark.read.parquet(out).select(BUCKET_COL).distinct()
    assert sorted(x[0] for x in got.collect()) == keep_buckets  # phantoms gone
    # tombstoned buckets re-run if they come back
    r2 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    assert sorted(r2["processed_buckets"]) == [4, 5, 6, 7]


def test_partial_manifest_resumes(spark, tokens_df, tmp_path):
    """Simulate a killed job: manifest has only some buckets → resume
    processes exactly the missing ones."""
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    r1 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    # drop manifest entries for 3 buckets (as if the job died before them)
    import shutil

    m = spark.read.parquet(man)
    kept = m.filter(~m[BUCKET_COL].isin([0, 1, 2]))
    kept.persist().count()
    tmp = man + "_tmp"
    kept.write.parquet(tmp)
    kept.unpersist()
    shutil.rmtree(man)
    shutil.move(tmp, man)
    r2 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=8)
    assert sorted(r2["processed_buckets"]) == [0, 1, 2]
    assert len(r2["skipped_buckets"]) == 5


def test_corrupt_manifest_raises(spark, tokens_df, tmp_path):
    """A manifest directory holding only a crashed first write's
    `_temporary/` is a fresh run; one holding a file that is not parquet
    raises instead of silently recomputing every bucket on every rerun."""
    import os

    import pytest

    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    os.makedirs(os.path.join(man, "_temporary", "0"))
    r1 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4)
    assert len(r1["processed_buckets"]) == 4 and not r1["skipped_buckets"]

    with open(os.path.join(man, "part-99999-garbage.snappy.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4)


def test_fingerprint_order_independent(spark, tokens_df):
    from numalogic_spark.plans.manifest import bucket_fingerprints

    a = bucket_fingerprints(tokens_df, "doc_id", "event_ts", 8).toPandas().sort_values(BUCKET_COL, ignore_index=True)
    b = (
        bucket_fingerprints(tokens_df.repartition(13), "doc_id", "event_ts", 8)
        .toPandas()
        .sort_values(BUCKET_COL, ignore_index=True)
    )
    assert (a["fingerprint"].to_numpy() == b["fingerprint"].to_numpy()).all()
    assert (a["rows_in"].to_numpy() == b["rows_in"].to_numpy()).all()


def test_hot_key_detection_and_salting(spark, tokens_df):
    hot = hot_keys(tokens_df, "source", threshold=0.25)
    assert hot == ["src_000"]  # datagen's ~30% hot source
    # salting spreads the hot source across many partitions
    salted = salted_repartition(tokens_df.filter("source = 'src_000'"), ["source"], "doc_id",
                                salt_buckets=8, num_partitions=8)
    import pyspark.sql.functions as F

    sizes = salted.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().toPandas()
    assert len(sizes) >= 4  # not all rows on one reducer
    assert sizes["count"].max() < tokens_df.filter("source = 'src_000'").count()


def test_staleness_max_age(spark, tokens_df, tmp_path):
    """Age policy: fingerprint-identical buckets recompute once their
    latest manifest entry is older than max_age_sec; fresh entries skip."""
    import time as _time

    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    r1 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4)
    assert len(r1["processed_buckets"]) == 4

    # entries were written milliseconds ago: a generous max-age skips all
    r2 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           max_age_sec=3600.0)
    assert not r2["processed_buckets"] and len(r2["skipped_buckets"]) == 4

    _time.sleep(1.1)
    # now every entry is older than a 1-second TTL: all recompute
    r3 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           max_age_sec=1.0)
    assert len(r3["processed_buckets"]) == 4 and not r3["skipped_buckets"]
    # and without the policy the content check still skips everything
    r4 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4)
    assert not r4["processed_buckets"]


def test_staleness_snapshot_id(spark, tokens_df, tmp_path):
    """Snapshot policy: entries recorded under a different upstream
    snapshot token recompute; same token skips."""
    out, man = str(tmp_path / "out"), str(tmp_path / "manifest")
    r1 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           snapshot_id="snap-A")
    assert len(r1["processed_buckets"]) == 4

    r2 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           snapshot_id="snap-A")
    assert not r2["processed_buckets"]

    r3 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           snapshot_id="snap-B")
    assert len(r3["processed_buckets"]) == 4

    # no policy → pure content check, skips regardless of recorded token
    r4 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4)
    assert not r4["processed_buckets"]
    # r4 skipped (wrote nothing), so the latest entries are still r3's
    # snap-B rows: querying under snap-B again skips
    r5 = run_with_manifest(spark, tokens_df, _job, out, man, n_buckets=4,
                           snapshot_id="snap-B")
    assert not r5["processed_buckets"]
