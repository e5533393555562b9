"""Incremental refresh job (jobs/refresh_job.py): exactly-once merge
protocol, crash-window resume, and end-to-end exactness vs from-scratch
rollup. The crash test replays the narrowest failure window (hist
partitions promoted, manifest append lost) and asserts no double-count —
the property the two-phase staging protocol exists for."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from jobs.refresh_job import DATE_COL, bootstrap, refresh
from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused
from tests.conftest import assert_frames_match

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = "/opt/spark/bin/spark-submit"


def _split3(tokens_df):
    h = F.pmod(F.xxhash64("doc_id"), F.lit(10))
    return (
        tokens_df.filter(h < 7),
        tokens_df.filter(h == 7),
        tokens_df.filter(h > 7),
    )


def _full_tier(full_df, cfg, tier):
    """One tier derived from scratch over ``full_df``."""
    return rollup_tiers_fused(histogram(full_df, cfg, "minute"), cfg).filter(F.col("tier") == tier)


def _assert_state_matches(spark, state, full_df, cfg):
    """hist == histogram(full), every tier == a from-scratch derive over full."""
    got_h = spark.read.parquet(f"{state}/hist").drop(DATE_COL)
    exp_h = histogram(full_df, cfg, "minute")
    assert_frames_match(
        got_h.toPandas(), exp_h.toPandas(),
        sort_cols=["source", "bucket_ts", "v"], float_cols=("v",), atol=0.0,
    )
    for tier in ("1m", "1h", "1d"):
        got_t = spark.read.parquet(f"{state}/tier_{tier}").drop(DATE_COL)
        assert_frames_match(
            got_t.toPandas(), _full_tier(full_df, cfg, tier).toPandas(),
            sort_cols=["source", "bucket_ts"],
            float_cols=("n_tok_mean", "n_tok_p95", "token_rate"), atol=0.0,
        )


def test_bootstrap_refresh_and_idempotent_rerun(spark, tokens_df, tmp_path):
    cfg = RollupConfig()
    base, d1, d2 = _split3(tokens_df)
    state = str(tmp_path / "state")

    bootstrap(spark, base, state, cfg)
    _assert_state_matches(spark, state, base, cfg)

    out1 = refresh(spark, d1, "d1", state, cfg)
    assert out1["merged_dates"] == out1["touched_dates"] > 0
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)

    # re-running a completed delta is a no-op (ledger/manifest gate)
    out1b = refresh(spark, d1, "d1", state, cfg)
    assert out1b["merged_dates"] == 0
    assert out1b["skipped_dates"] == out1b["touched_dates"]
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)

    # a second delta stacks exactly
    refresh(spark, d2, "d2", state, cfg)
    _assert_state_matches(spark, state, tokens_df, cfg)


def test_delta_of_a_new_source_creates_its_tiers(spark, tokens_df, tmp_path):
    """A delta whose only source is absent from the store creates that
    source's rows at every tier, from the delta alone, and the store
    then equals a from-scratch derive over base + delta."""
    cfg = RollupConfig()
    base, d1, _ = _split3(tokens_df)
    new_src = d1.withColumn("source", F.lit("brand_new_src"))
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)

    out = refresh(spark, new_src, "new_src", state, cfg)
    assert out["merged_dates"] == out["touched_dates"] > 0
    for tier in ("1m", "1h", "1d"):
        rows = spark.read.parquet(f"{state}/tier_{tier}").filter(F.col("source") == "brand_new_src")
        assert rows.count() > 0, tier
    _assert_state_matches(spark, state, base.unionByName(new_src), cfg)


def test_empty_delta_changes_nothing(spark, tokens_df, tmp_path):
    """An empty delta merges no date, appends no ledger row and leaves
    every table of the store unchanged."""
    cfg = RollupConfig()
    base, d1, _ = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)

    tables = ("hist", "tier_1m", "tier_1h", "tier_1d", "gapfill_1m", "blocks_1m", "hist_manifest")

    def snapshot():
        out = {}
        for t in tables:
            pdf = spark.read.parquet(f"{state}/{t}").toPandas()
            out[t] = pdf.sort_values(list(pdf.columns), ignore_index=True)
        return out

    before = snapshot()
    out = refresh(spark, d1.limit(0), "empty", state, cfg)
    assert out["touched_dates"] == out["merged_dates"] == 0
    after = snapshot()
    for t in tables:
        assert before[t].equals(after[t]), t
    assert after["hist_manifest"].query("delta_id == 'empty'").empty


def test_crash_window_resume_no_double_count(spark, tokens_df, tmp_path):
    """Inject a crash in the narrowest window: hist partitions already
    promoted but the manifest append lost (and therefore no staging
    cleanup either). The retry must re-promote the SAME staging content
    (never re-merge the delta into the mutated hist)."""
    from unittest import mock

    from pyspark.sql.readwriter import DataFrameWriter

    cfg = RollupConfig()
    base, d1, _ = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)

    orig = DataFrameWriter.parquet

    def crash_on_manifest_append(self, path, *a, **kw):
        if path.endswith("hist_manifest"):
            raise RuntimeError("injected crash before manifest append")
        return orig(self, path, *a, **kw)

    with mock.patch.object(DataFrameWriter, "parquet", crash_on_manifest_append):
        with pytest.raises(RuntimeError, match="injected crash"):
            refresh(spark, d1, "d1", state, cfg)

    # hist was promoted but the ledger has no d1 rows and staging survives
    m = spark.read.parquet(f"{state}/hist_manifest")
    assert m.filter(F.col("delta_id") == "d1").count() == 0
    assert os.path.exists(f"{state}/staging/d1/_SUCCESS")

    out = refresh(spark, d1, "d1", state, cfg)
    # the retry sees every touched date as pending and re-promotes it
    assert out["merged_dates"] == out["touched_dates"] > 0
    # the state is STILL exact — no double-counted delta
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)
    # and the applied delta's staging scratch is gone
    assert not os.path.exists(f"{state}/staging/d1")


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="spark-submit not available")
def test_refresh_job_spark_submit_e2e(tmp_path):
    zip_path = tmp_path / "pkg.zip"
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", str(zip_path), "numalogic_spark"],
        cwd=REPO, check=True,
    )
    state = tmp_path / "state"
    raw = tmp_path / "raw"

    def run(*extra):
        r = subprocess.run(
            [SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
             "jobs/refresh_job.py", "--state", str(state), *extra],
            cwd=REPO, capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    init = run("--init", "--input", str(raw / "base"), "--gen-rows", "4000")
    # reuse a slice of the generated base as an (overlapping) delta — the
    # merge must add its counts into the existing buckets exactly once
    import duckdb

    base_rows = duckdb.sql(f"select count(*) from '{raw}/base/*.parquet'").fetchone()[0]
    assert init["rows"] == base_rows > 0
    duckdb.sql(
        f"copy (select * from '{raw}/base/*.parquet' limit 500) to "
        f"'{raw}/delta.parquet' (format parquet)"
    )
    out = run("--delta", str(raw / "delta.parquet"), "--delta-id", "d1")
    assert out["merged_dates"] == out["touched_dates"] > 0
    rerun = run("--delta", str(raw / "delta.parquet"), "--delta-id", "d1")
    assert rerun["merged_dates"] == 0
    total = duckdb.sql(
        f"select sum(cnt) from '{state}/hist/*/*.parquet'"
    ).fetchone()[0]
    assert total == base_rows + 500


def test_state_read_partition_pruned(spark, tokens_df, tmp_path):
    """The touched-date filter must reach the scan as PartitionFilters —
    at 10^12 stored rows this is the difference between a directory
    listing and a table scan."""
    cfg = RollupConfig()
    state = str(tmp_path / "state")
    bootstrap(spark, tokens_df, state, cfg)
    from jobs.refresh_job import _read_state, _store_schema

    dates = sorted(
        r[DATE_COL]
        for r in spark.read.parquet(f"{state}/hist")
        .select(F.col(DATE_COL).cast("string").alias(DATE_COL))
        .distinct()
        .collect()
    )
    pruned = _read_state(spark, f"{state}/hist", dates[:1], _store_schema("hist"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the filter is IN the partition-filter clause, not a post-scan Filter
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line][0]
    assert DATE_COL in pf and "dynamicpruning" not in pf
    # a filter on a date no partition directory matches prunes to ZERO
    # files — proof the predicate executes at listing time, not scan time
    miss = _read_state(spark, f"{state}/hist", ["1970-01-01"], _store_schema("hist"))
    mplan = miss._jdf.queryExecution().executedPlan().toString()
    assert miss.count() == 0 and "PartitionFilters" in mplan
    assert pruned.count() > 0


def test_streaming_refresh_micro_batches(spark, tokens_df, tmp_path):
    """foreachBatch ingestion: each micro-batch merges as its own delta
    through the exactly-once ledger; after draining, state ≡ from-scratch
    rollup over base + the whole stream."""
    from jobs.refresh_job import streaming_refresh
    from numalogic_spark.datagen import TOKEN_SCHEMA

    cfg = RollupConfig()
    base, d1, d2 = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)

    feed = str(tmp_path / "feed")
    d1.coalesce(1).write.parquet(feed + "/p1")
    d2.coalesce(1).write.parquet(feed + "/p2")
    stream = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed + "/p*")
    )
    q = streaming_refresh(
        stream, state, cfg,
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(300)
    _assert_state_matches(spark, state, tokens_df, cfg)
    # one ledger generation per micro-batch, none double-applied
    ids = {
        r["delta_id"]
        for r in spark.read.parquet(f"{state}/hist_manifest").collect()
    }
    assert {"batch-0", "batch-1"} <= ids


def test_compaction_reduces_files_content_and_ledger_neutral(spark, tokens_df, tmp_path):
    """After several small deltas a date partition accumulates files;
    compact() rewrites crowded dates to one file each, changes NO content,
    and leaves the ledger untouched (a retried delta stays a no-op)."""
    import glob

    from jobs.refresh_job import compact

    cfg = RollupConfig()
    base, d1, d2 = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)
    refresh(spark, d2, "d2", state, cfg)

    # a many-task promote write leaves many files per date partition —
    # replay the same content through an 8-way repartition to simulate it
    from jobs.refresh_job import _read_state, _store_schema, _write_partitioned

    snap = _read_state(spark, f"{state}/hist", None, _store_schema("hist"))
    materialized = spark.createDataFrame(snap.toPandas(), schema=snap.schema)
    _write_partitioned(materialized.repartition(8), f"{state}/hist")

    def files_per_date():
        out = {}
        for d in glob.glob(f"{state}/hist/{DATE_COL}=*"):
            out[d] = len(glob.glob(f"{d}/part-*"))
        return out

    before = files_per_date()
    assert max(before.values()) > 1
    manifest_before = (
        spark.read.parquet(f"{state}/hist_manifest").toPandas()
        .sort_values(["bucket_date", "run_seq"], ignore_index=True)
    )

    out = compact(spark, state, max_files=1)
    assert out["compacted_dates"] == sum(1 for n in before.values() if n > 1)
    assert max(files_per_date().values()) == 1
    _assert_state_matches(spark, state, tokens_df, cfg)
    manifest_after = (
        spark.read.parquet(f"{state}/hist_manifest").toPandas()
        .sort_values(["bucket_date", "run_seq"], ignore_index=True)
    )
    assert manifest_before.equals(manifest_after)
    # ledger still gates: the compacted store treats d2 as applied
    rerun = refresh(spark, d2, "d2", state, cfg)
    assert rerun["merged_dates"] == 0


def test_expiry_drops_old_partitions_per_tier(spark, tokens_df, tmp_path):
    """Retention ladder at the storage level: spread the fixture over 6
    calendar days, then expire with a 2d/4d/forever policy — each tier
    keeps its own horizon, hist follows the finest tier, the drop is a
    directory delete recorded in expiry_log, and a second run is a no-op."""
    import glob

    from jobs.refresh_job import expire

    cfg = RollupConfig()
    # deterministic 6-day spread keyed on doc hash
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(6)).cast("int")
        ),
    )
    state = str(tmp_path / "state")
    bootstrap(spark, multi, state, cfg)
    n_dates = len(glob.glob(f"{state}/hist/{DATE_COL}=*"))
    assert n_dates == 6

    policy = {"1m": 2 * 86400, "1h": 4 * 86400, "1d": None}
    out = expire(spark, state, policy)
    # horizons are ceil(days): keep watermark-2..watermark for 1m (3 dirs),
    # watermark-4.. for 1h (5 dirs), everything for 1d
    left = lambda t: len(glob.glob(f"{state}/{t}/{DATE_COL}=*"))
    assert left("tier_1m") == 3 and out["dropped"]["1m"] == 3
    assert left("tier_1h") == 5 and out["dropped"]["1h"] == 1
    assert left("tier_1d") == 6 and out["dropped"]["1d"] == 0
    assert left("hist") == 3 and out["dropped"]["hist"] == 3  # finest horizon

    # surviving content is untouched: retained tier rows equal the
    # from-scratch rollup restricted to the surviving dates
    for tier in ("1m", "1h", "1d"):
        got = spark.read.parquet(f"{state}/tier_{tier}")
        kept_dates = [
            os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(f"{state}/tier_{tier}/{DATE_COL}=*")
        ]
        exp = _full_tier(multi, cfg, tier).filter(
            F.date_format("bucket_ts", "yyyy-MM-dd").isin(kept_dates)
        )
        assert_frames_match(
            got.drop(DATE_COL).toPandas(), exp.toPandas(),
            sort_cols=["source", "bucket_ts"],
            float_cols=("n_tok_mean", "n_tok_p95", "token_rate"), atol=0.0,
        )

    log = spark.read.parquet(f"{state}/expiry_log")
    # 3 tier_1m + 3 blocks_1m + 3 gapfill_1m (same horizon) + 1 tier_1h + 3 hist
    assert log.count() == 3 + 3 + 3 + 1 + 3
    assert left("blocks_1m") == 3
    assert left("gapfill_1m") == 3
    # idempotent under the same policy + watermark
    out2 = expire(spark, state, policy)
    assert all(v == 0 for v in out2["dropped"].values())


def test_blocks_roundtrip_and_expire_with_1m_horizon(spark, tokens_df, tmp_path):
    """Date-aligned Gorilla blocks: after a refresh the touched dates'
    blocks decode exactly back to the 1m tier points, and expiry drops
    block partitions on the 1m horizon alongside the tier."""
    import glob

    from jobs.refresh_job import expire
    from numalogic_spark.functions.compression import decompress_blocks

    cfg = RollupConfig()
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
        ),
    )
    base = multi.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) != 7)
    d1 = multi.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 7)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)

    pts = (
        decompress_blocks(spark.read.parquet(f"{state}/blocks_1m"))
        .withColumnRenamed("value", "n_tok_mean")
        .drop("tier")
    )
    tier = spark.read.parquet(f"{state}/tier_1m").select(
        "source", "bucket_ts", "n_tok_mean"
    )
    assert_frames_match(
        pts.toPandas(), tier.toPandas(),
        sort_cols=["source", "bucket_ts"], float_cols=(), atol=0.0,
    )

    out = expire(spark, state, {"1m": 1 * 86400, "1h": None, "1d": None})
    n_tier = len(glob.glob(f"{state}/tier_1m/{DATE_COL}=*"))
    n_blocks = len(glob.glob(f"{state}/blocks_1m/{DATE_COL}=*"))
    assert out["dropped"]["1m"] == 2 and n_tier == n_blocks == 2


def test_gapfill_view_maintained_incrementally(spark, tokens_df, tmp_path):
    """The gap-filled 1m view after a refresh equals gapfill over the
    from-scratch full tier — including interpolated rows whose governing
    gap the delta changed across a midnight boundary (the halo case)."""
    from numalogic_spark.operators.gapfill import gapfill_linear

    cfg = RollupConfig()
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
        ),
    )
    base = multi.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) != 7)
    d1 = multi.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 7)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)

    got = spark.read.parquet(f"{state}/gapfill_1m").drop(DATE_COL)
    full_tier = _full_tier(multi, cfg, "1m")
    from jobs.refresh_job import GAP_HORIZON_S

    exp = gapfill_linear(full_tier, "1m", max_gap_s=GAP_HORIZON_S)
    assert_frames_match(
        got.toPandas(), exp.toPandas(),
        sort_cols=["source", "bucket_ts"],
        float_cols=[c for c in exp.columns if c not in ("source", "bucket_ts", "tier", "is_interpolated")],
        atol=1e-9,
    )


def test_delta_id_reuse_with_different_content_rejected(spark, tokens_df, tmp_path):
    """The fingerprint guard refuses to merge a delta whose id was already
    applied with different content (e.g. a stream restarted on a fresh
    checkpoint reusing batch ids) — before any mutation."""
    cfg = RollupConfig()
    base, d1, d2 = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "dup", state, cfg)
    with pytest.raises(ValueError, match="DIFFERENT content"):
        refresh(spark, d2, "dup", state, cfg)
    # nothing was merged by the refused call
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)


def _three_days(tokens_df):
    """The fixture spread over three calendar dates; the delta holds 10%
    of the rows and only the first two dates."""
    day = F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    multi = tokens_df.withColumn("event_ts", F.col("event_ts") + F.make_interval(days=day))
    in_delta = (F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 7) & (day < 2)
    return multi.filter(~in_delta), multi.filter(in_delta)


def test_delta_fingerprint_matches_whole_delta_formula(spark, tokens_df, tmp_path):
    """The manifest's delta_fp is one bit_xor over the whole delta
    histogram, the value existing stores hold, although refresh() takes
    it per date and folds the dates. An empty delta yields 0."""
    from jobs.refresh_job import _probe_delta, _with_date

    cfg = RollupConfig()
    base, d1 = _three_days(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)

    def whole_delta_fp(delta):
        dh = _with_date(histogram(delta, cfg, "minute"))
        return dh.agg(
            F.bit_xor(F.xxhash64(F.struct("source", "bucket_ts", "v", "cnt", DATE_COL)))
        ).collect()[0][0]

    want = whole_delta_fp(d1)
    assert want is not None
    got = spark.read.parquet(f"{state}/hist_manifest").filter(F.col("delta_id") == "d1")
    fps = {r["delta_fp"] for r in got.select("delta_fp").collect()}
    assert fps == {want} and got.count() == 2  # one ledger row per touched date

    empty = d1.limit(0)
    assert whole_delta_fp(empty) is None  # recorded as 0
    assert _probe_delta(_with_date(histogram(empty, cfg, "minute"))) == ([], 0)


def test_tier_points_touched_counts_touched_partitions(spark, tokens_df, tmp_path):
    """refresh() reports, per tier, the rows of that tier's touched-date
    partitions — the whole rewritten partitions, not just the delta's
    buckets."""
    cfg = RollupConfig()
    base, d1 = _three_days(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    out = refresh(spark, d1, "d1", state, cfg)

    touched = sorted(
        r[0] for r in d1.select(F.date_format("event_ts", "yyyy-MM-dd")).distinct().collect()
    )
    assert out["touched_dates"] == len(touched) == 2
    want = {
        tier: spark.read.parquet(f"{state}/tier_{tier}")
        .filter(F.col(DATE_COL).cast("string").isin(touched))
        .count()
        for tier in ("1m", "1h", "1d")
    }
    assert out["tier_points_touched"] == want
    assert want["1d"] < spark.read.parquet(f"{state}/tier_1d").count()


def test_bootstrap_writes_one_hist_file_per_date(spark, tokens_df, tmp_path):
    """bootstrap() writes each hist date directory as one file, like the
    tiers, gap-fill and blocks, so a refresh reads a date from one file."""
    import glob

    cfg = RollupConfig()
    base, _ = _three_days(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    dirs = glob.glob(f"{state}/hist/{DATE_COL}=*")
    assert len(dirs) == 3
    for d in dirs:
        assert len(glob.glob(f"{d}/part-*.parquet")) == 1, d


def test_late_delta_for_expired_date_rejected(spark, tokens_df, tmp_path):
    """A delta for a date whose hist was already expired must NOT mutate
    the store: re-deriving coarser tiers from the delta alone would
    replace retained full-day 1h/1d rollups with delta-only aggregates."""
    from jobs.refresh_job import expire

    cfg = RollupConfig()
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(6)).cast("int")
        ),
    )
    state = str(tmp_path / "state")
    bootstrap(spark, multi, state, cfg)
    # expire 1m+hist beyond 2 days; 1h/1d keep everything
    expire(spark, state, {"1m": 2 * 86400, "1h": None, "1d": None})
    tier_1h_before = spark.read.parquet(f"{state}/tier_1h").toPandas()
    tier_1d_before = spark.read.parquet(f"{state}/tier_1d").toPandas()

    oldest = sorted(tier_1h_before["bucket_date"].unique())[0]
    late = multi.filter(F.date_format("event_ts", "yyyy-MM-dd") == oldest).limit(50)
    assert late.count() > 0
    out = refresh(spark, late, "late1", state, cfg)
    assert out["rejected_expired_dates"] >= 1
    assert out["touched_dates"] == 0 and out["merged_dates"] == 0
    # a fully rejected delta records nothing in the ledger
    ledger = spark.read.parquet(f"{state}/hist_manifest")
    assert ledger.filter(F.col("delta_id") == "late1").count() == 0

    # retained coarser tiers are byte-identical — no delta-only overwrite
    for tier, before in (("1h", tier_1h_before), ("1d", tier_1d_before)):
        after = spark.read.parquet(f"{state}/tier_{tier}").toPandas()
        assert_frames_match(
            after, before, sort_cols=["source", "bucket_ts"],
            float_cols=("n_tok_mean", "n_tok_p95", "token_rate"), atol=0.0,
        )


def test_read_tier_range_pruned(spark, tokens_df, tmp_path):
    """read_tier: date-range bounds reach the scan as PartitionFilters
    and resolve every table alias."""
    from jobs.refresh_job import read_tier

    cfg = RollupConfig()
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
        ),
    )
    state = str(tmp_path / "state")
    bootstrap(spark, multi, state, cfg)
    dates = sorted(
        r[DATE_COL]
        for r in read_tier(spark, state, "1m").select(DATE_COL).distinct().collect()
    )
    mid = read_tier(spark, state, "1m", start_date=dates[1], end_date=dates[2])
    plan = mid._jdf.queryExecution().executedPlan().toString()
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line][0]
    assert DATE_COL in pf
    got = sorted(r[DATE_COL] for r in mid.select(DATE_COL).distinct().collect())
    assert got == dates[1:3]
    for table in ("1h", "1d", "hist", "gapfill_1m", "blocks_1m"):
        assert read_tier(spark, state, table, start_date=dates[0]).count() > 0


def test_stale_staging_different_content_is_ambiguous_error(spark, tokens_df, tmp_path):
    """Crash before the FIRST manifest append + id reuse with different
    content: the manifest fp guard has nothing to compare, but the
    staging _DELTA_FP sidecar does not match — the state is ambiguous
    (the old delta may have been partially promoted) and must be a hard
    error, never a silent promote of stale data or a double-merge."""
    from unittest import mock

    from pyspark.sql.readwriter import DataFrameWriter

    cfg = RollupConfig()
    base, d1, d2 = _split3(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)

    orig = DataFrameWriter.parquet

    def crash_on_manifest_append(self, path, *a, **kw):
        if path.endswith("hist_manifest"):
            raise RuntimeError("injected crash")
        return orig(self, path, *a, **kw)

    with mock.patch.object(DataFrameWriter, "parquet", crash_on_manifest_append):
        with pytest.raises(RuntimeError):
            refresh(spark, d1, "x", state, cfg)
    assert os.path.exists(f"{state}/staging/x/_DELTA_FP")

    with pytest.raises(ValueError, match="DIFFERENT content"):
        refresh(spark, d2, "x", state, cfg)


def test_reserved_delta_id_and_invalid_policy_rejected(spark, tokens_df, tmp_path):
    from jobs.refresh_job import expire

    cfg = RollupConfig()
    state = str(tmp_path / "state")
    bootstrap(spark, tokens_df, state, cfg)
    with pytest.raises(ValueError, match="reserved"):
        refresh(spark, tokens_df.limit(1), "__compact__", state, cfg)
    # a tier horizon shorter than hist's would let late deltas resurrect
    # expired tier partitions — rejected up front
    with pytest.raises(ValueError, match="ladder"):
        expire(spark, state, {"1m": 86400, "1h": None, "1d": None, "hist": 7 * 86400})


def test_reinit_clears_expiry_log(spark, tokens_df, tmp_path):
    """Re-bootstrap is a new generation: the old expiry_log must not
    survive to permanently reject dates the new base contains."""
    from jobs.refresh_job import expire

    cfg = RollupConfig()
    multi = tokens_df.withColumn(
        "event_ts",
        F.col("event_ts") + F.make_interval(
            days=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int")
        ),
    )
    state = str(tmp_path / "state")
    bootstrap(spark, multi, state, cfg)
    expire(spark, state, {"1m": 86400, "1h": 86400, "1d": 86400})
    assert os.path.exists(f"{state}/expiry_log")

    base, d1, _ = _split3(multi)
    bootstrap(spark, base, state, cfg)  # rebuild generation
    assert not os.path.exists(f"{state}/expiry_log")
    out = refresh(spark, d1, "d1", state, cfg)
    assert out["rejected_expired_dates"] == 0 and out["merged_dates"] > 0
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)


def test_store_reads_run_no_spark_job(spark, tokens_df, tmp_path):
    """Building a store read runs no Spark job: every table's schema is
    pinned, so nothing is inferred."""
    from jobs.refresh_job import _read_state, _store_schema, read_tier

    cfg = RollupConfig()
    base, d1 = _three_days(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)
    dates = sorted(
        p.split("=", 1)[1] for p in os.listdir(f"{state}/hist") if p.startswith(DATE_COL)
    )

    sc = spark.sparkContext
    group = "test.store_read_construction"
    sc.setJobGroup(group, group)
    try:
        for table in ("1m", "1h", "1d", "hist", "gapfill_1m", "blocks_1m"):
            read_tier(spark, state, table)
            read_tier(spark, state, table, dates[0], dates[-1])
            read_tier(spark, state, table, start_date=dates[1])
        _read_state(spark, f"{state}/hist", dates[:2], _store_schema("hist"))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert jobs == []


@pytest.mark.parametrize("integral", [True, False])
def test_store_schema_pins_match_files_and_reads_are_exact(spark, tokens_df, tmp_path, integral):
    """Each table's pinned schema equals what its writer puts in the files
    (a writer whose output type changes without its pin fails here), for
    integral values and for a double value column summed as decimal. A
    one-day read opens only that day's directory, and a range with no
    existing date reads nothing."""
    from jobs.refresh_job import _store_schema, expire, read_tier

    cfg = RollupConfig(integral_values=integral, decimal_sum=not integral)
    raw = tokens_df if integral else tokens_df.withColumn("n_tok", F.col("n_tok") / 4)
    base, d1 = _three_days(raw)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)
    expire(spark, state, {"1m": 86400, "1h": None, "1d": None})  # writes expiry_log

    tables = ("hist", "tier_1m", "tier_1h", "tier_1d", "gapfill_1m", "blocks_1m",
              "hist_manifest", "expiry_log")
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # bucket_date as written: a string
    try:
        inferred = {t: spark.read.parquet(f"{state}/{t}").schema for t in tables}
    finally:
        spark.conf.set(key, old)
    for t in tables:
        got = [(f.name, f.dataType) for f in inferred[t]]
        want = [(f.name, f.dataType) for f in _store_schema(t, cfg)]
        assert got == want, t

    day = max(
        p.split("=", 1)[1] for p in os.listdir(f"{state}/tier_1m") if p.startswith(DATE_COL)
    )
    for table in ("1m", "1h", "1d", "hist", "gapfill_1m", "blocks_1m"):
        one = read_tier(spark, state, table, day, day, cfg)
        assert one.collect(), table
        # with no exchange in the plan, the file scan is its only leaf
        scan = one._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        name = f"tier_{table}" if table in ("1m", "1h", "1d") else table
        day_files = [f for f in os.listdir(f"{state}/{name}/{DATE_COL}={day}") if f.endswith(".parquet")]
        assert scan.metrics().apply("numFiles").value() == len(day_files), table
    assert read_tier(spark, state, "1h", "1999-01-01", "1999-01-03", cfg).count() == 0


def test_manifest_written_before_fingerprints_still_gates(spark, tokens_df, tmp_path):
    """A hist_manifest whose files have no delta_fp column (written before
    fingerprints) still loads: the pinned schema reads the column as null,
    and re-applying a delta it records is a no-op, not an error."""
    import shutil

    cfg = RollupConfig()
    base, d1 = _three_days(tokens_df)
    state = str(tmp_path / "state")
    bootstrap(spark, base, state, cfg)
    refresh(spark, d1, "d1", state, cfg)

    manifest, old = f"{state}/hist_manifest", str(tmp_path / "manifest_without_fp")
    spark.read.parquet(manifest).drop("delta_fp").write.parquet(old)
    shutil.rmtree(manifest)
    os.rename(old, manifest)
    assert "delta_fp" not in spark.read.parquet(manifest).columns

    out = refresh(spark, d1, "d1", state, cfg)
    assert out["merged_dates"] == 0 and out["skipped_dates"] == out["touched_dates"] == 2
    _assert_state_matches(spark, state, base.unionByName(d1), cfg)
