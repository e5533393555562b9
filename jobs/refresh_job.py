"""spark-submit entrypoint: incremental continuous-aggregate refresh.

Usage (local or cluster — only --master changes):

    zip -r dist/numalogic_spark.zip numalogic_spark
    # bootstrap the state store from a raw base table
    spark-submit --master local[8] --py-files dist/numalogic_spark.zip \
        jobs/refresh_job.py --state <dir> --init --input <raw parquet>
    # merge a raw delta, rewriting only delta-touched date partitions
    spark-submit --master local[8] --py-files dist/numalogic_spark.zip \
        jobs/refresh_job.py --state <dir> --delta <raw parquet> --delta-id d1

State layout under --state (all parquet, partitioned by bucket_date):

    hist/           minute histogram (source, bucket_ts, v, cnt) — the
                    mergeable exact state every tier derives from
    tier_1m|1h|1d/  continuous-aggregate points
    hist_manifest/  per-date lineage: (bucket_date, delta_id, run_seq,
                    rows) appended AFTER a date's partition lands
    staging/<id>/   two-phase merge scratch (removed on success)

Exactly-once merge protocol (a killed job resumes at date-partition
granularity; re-running a completed delta is a no-op):

1. STAGE   merged partitions for every pending touched date are computed
           from (current hist ∪ delta) and written to staging/<delta_id>.
           Pure function of un-mutated inputs: pending dates are exactly
           the dates the manifest has NOT recorded for this delta_id, and
           promote never touches a date before its staging commit, so
           recomputing staging after a crash is always safe.
2. PROMOTE staging rows for pending dates overwrite hist/ date partitions
           (dynamic partition overwrite — idempotent replace), then the
           manifest row for each date is appended. A crash between the
           two just re-promotes the same deterministic staging content.
3. DERIVE  tier partitions for ALL touched dates recompute from the final
           hist (a pure function — idempotent), so tiers need no protocol:
           one read of the touched hist partitions, one fused exchange
           (rollup_tiers_fused) that yields every tier as a single persisted
           frame, and three filtered writes, one per tier. The 1m blocks
           encode from the same in-memory 1m rows.

Scale shape at 10^12 stored rows: the delta is scanned once into its
minute histogram; every hist/tier read is pruned to touched dates
(`bucket_date` is the storage partition key, so pruning is a directory
listing, not a scan); every table's schema is pinned from the config
(`_store_schema`), so no read runs a schema-inference job; the
touched-date collect() is bounded by calendar days in the delta, never by
rows. Untouched partitions are never read, shuffled, or rewritten.

Reference analog: numalogic re-ingests into Druid segments and lets the
broker merge query-time (approximate sketches); here the merge is exact
(operators/rollup.py lossless histogram) and happens at write time.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from numalogic_spark.functions.compression import BLOCK_SCHEMA, compress_tier
from numalogic_spark.operators.gapfill import METRIC_COLS, gapfill_linear
from numalogic_spark.operators.rollup import (
    TIERS,
    RollupConfig,
    histogram,
    rollup_tiers_fused,
)
from numalogic_spark.session import get_spark

DATE_COL = "bucket_date"
HIST_KEYS = ["source", "bucket_ts", "v"]
# gap-fill horizon: silences longer than this are staleness, not gaps.
# MUST stay <= 1 day — the incremental halo (_write_gapfill reads ±2 days,
# rewrites ±1) is sized to it.
GAP_HORIZON_S = 86400


def _with_date(df: DataFrame) -> DataFrame:
    return df.withColumn(DATE_COL, F.date_format("bucket_ts", "yyyy-MM-dd"))


def _write_partitioned(df: DataFrame, path: str) -> None:
    # dynamic overwrite set per-writer (manifest-module discipline):
    # only the partitions present in df are replaced.
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(DATE_COL)
        .parquet(path)
    )


def _store_schema(table: str, cfg: RollupConfig | None = None) -> T.StructType:
    """The pinned schema of a store table, as its writer emits it, with
    ``bucket_date`` a string. Readers pass it, so no read runs a
    schema-inference job or types the partition column as a date. Only
    the tiers' ``n_tok_sum`` depends on ``cfg`` (None means
    ``RollupConfig()``); staging shares the ``hist`` schema."""
    cfg = cfg or RollupConfig()
    string, ts, double, long = T.StringType(), T.TimestampType(), T.DoubleType(), T.LongType()
    key = [("source", string), ("bucket_ts", ts)]
    tier_types = {"count": long, "n_tok_sum": long if cfg.integral_values else double}
    tier = [*key, ("tier", string), *((c, tier_types.get(c, double)) for c in METRIC_COLS)]
    cols = {
        "hist": [*key, ("v", double), ("cnt", long), (DATE_COL, string)],
        **{f"tier_{t}": [*tier, (DATE_COL, string)] for t in TIERS},
        "gapfill_1m": [*key, ("tier", string), *((c, double) for c in METRIC_COLS),
                       ("is_interpolated", T.BooleanType()), (DATE_COL, string)],
        "blocks_1m": [*((f.name, f.dataType) for f in BLOCK_SCHEMA), (DATE_COL, string)],
        "hist_manifest": [(DATE_COL, string), ("delta_id", string), ("run_seq", T.IntegerType()),
                          ("rows", long), ("delta_fp", long)],
        "expiry_log": [("table", string), (DATE_COL, string), ("watermark", string),
                       ("max_age_s", long)],
    }[table]
    return T.StructType([T.StructField(n, t) for n, t in cols])


def _read_state(
    spark: SparkSession, path: str, dates: list[str] | None, schema: T.StructType
) -> DataFrame:
    """Read a date-partitioned store table with its pinned ``schema``
    (``_store_schema`` of the table; staging shares ``hist``'s). ``dates``
    becomes an ``isin`` filter on the partition column, so the scan opens
    only those dates' files; None reads every date."""
    df = spark.read.schema(schema).parquet(path)
    return df if dates is None else df.filter(F.col(DATE_COL).isin(dates))


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _delete(spark: SparkSession, path: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _write_marker(spark: SparkSession, path: str, content: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    out.write(bytearray(content.encode("utf-8")))
    out.close()


def _read_marker(spark: SparkSession, path: str) -> str | None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # one JVM call for the whole (capped) sidecar, not one per byte
        return bytes(stream.readNBytes(1024)).decode("utf-8")
    finally:
        stream.close()


def _write_tiers(hist: DataFrame, state: str, cfg: RollupConfig) -> dict[str, int]:
    """Derive every tier and the 1m blocks for the dates in ``hist``.

    One fused pass computes all tiers as a single frame, persisted
    once: each tier partition is written as a filter of it, the 1m blocks
    encode from its 1m rows, and one aggregate counts its rows per tier.
    Repartitioning by date before the persist puts each date in one task,
    so every write leaves one file per date and tier; without it every
    partition of the tier aggregate writes a file per date it holds.
    Returns the rows per tier."""
    pts = _with_date(rollup_tiers_fused(hist, cfg)).repartition(DATE_COL).persist()
    try:
        for tier in TIERS:
            _write_partitioned(pts.filter(F.col("tier") == tier), f"{state}/tier_{tier}")
        _write_blocks(pts.filter(F.col("tier") == "1m"), state)
        n = {r["tier"]: int(r["count"]) for r in pts.groupBy("tier").count().collect()}
        return {tier: n.get(tier, 0) for tier in TIERS}
    finally:
        pts.unpersist()


def _write_blocks(tier_1m: DataFrame, state: str) -> None:
    """Gorilla/delta-of-delta blocks for the 1m tier, date-aligned: each
    date's points compress independently (chunk boundaries reset at the
    date partition), so the incremental path can rewrite — and expiry can
    drop — block partitions with the same dynamic-overwrite unit as
    everything else. ONE applyInPandas grouped by (source, tier, date)
    covers every date in ``tier_1m`` in a single shuffle — never a
    full-store recompress."""
    blocks = compress_tier(tier_1m, "n_tok_mean", extra_group_cols=[DATE_COL])
    _write_partitioned(blocks, f"{state}/blocks_1m")



def _expand_dates(dates: list[str], days: int) -> list[str]:
    import datetime as _dt

    out = set()
    for d in dates:
        base = _dt.date.fromisoformat(d)
        for k in range(-days, days + 1):
            out.add((base + _dt.timedelta(days=k)).isoformat())
    return sorted(out)


def _write_gapfill(
    spark: SparkSession, state: str, touched: list[str] | None, cfg: RollupConfig
) -> int:
    """Maintain the gap-filled 1m view incrementally. A delta can change
    interpolated rows only inside gaps that overlap a touched date; the
    ENFORCED gap horizon of ≤ 1 day (``max_gap_s=GAP_HORIZON_S`` — longer
    silences are left unfilled as staleness, see staleness_report) bounds
    those rows to touched ± 1 day. Rewrite that halo, computing it from touched ± 2 days of context
    so every gap governing a rewritten row has both real endpoints in
    view. Rewriting an unaffected halo date is harmless: same inputs,
    same rows, idempotent dynamic overwrite. ``touched=None`` = full
    rebuild (bootstrap)."""
    if touched is not None and not touched:
        return 0
    read_dates = None if touched is None else _expand_dates(touched, 2)
    write_dates = None if touched is None else _expand_dates(touched, 1)
    tier_1m = _read_state(spark, f"{state}/tier_1m", read_dates, _store_schema("tier_1m", cfg))
    gf = _with_date(gapfill_linear(tier_1m.drop(DATE_COL), "1m", max_gap_s=GAP_HORIZON_S))
    if write_dates is not None:
        gf = gf.filter(F.col(DATE_COL).isin(write_dates))
    _write_partitioned(gf, f"{state}/gapfill_1m")
    return len(write_dates) if write_dates is not None else -1



def read_tier(
    spark: SparkSession,
    state: str,
    table: str = "1m",
    start_date: str | None = None,
    end_date: str | None = None,
    cfg: RollupConfig | None = None,
) -> DataFrame:
    """Query surface of the state store: a pruned range read of one
    table. ``table`` is a tier name ("1m"/"1h"/"1d") or one of "hist",
    "gapfill_1m", "blocks_1m". ``cfg`` is the store's config, the one
    ``bootstrap``/``refresh`` take (None means ``RollupConfig()``); it
    fixes the pinned schema, so the read infers nothing. The date bounds
    land on the partition column, so a month-range query against a
    10^12-row store reads ~30 directories and scans nothing else."""
    name = f"tier_{table}" if table in TIERS else table
    df = spark.read.schema(_store_schema(name, cfg)).parquet(f"{state}/{name}")
    if start_date is not None:
        df = df.filter(F.col(DATE_COL) >= start_date)
    if end_date is not None:
        df = df.filter(F.col(DATE_COL) <= end_date)
    return df


def bootstrap(spark: SparkSession, raw: DataFrame, state: str, cfg: RollupConfig) -> dict:
    """Build (or REBUILD) the state store from a raw base table. An
    existing store at ``state`` is wiped first — a re-init is a new
    generation, so the previous expiry_log (which would otherwise
    permanently reject dates the new base legitimately contains), stale
    partitions without lineage, and staging scratch must not survive."""
    _delete(spark, state)
    h = _with_date(histogram(raw, cfg, "minute")).persist()
    # one task per date, so each date directory holds one file
    _write_partitioned(h.repartition(DATE_COL), f"{state}/hist")
    dates = h.groupBy(DATE_COL).agg(F.sum("cnt").alias("rows"))
    dates.select(
        DATE_COL, F.lit("__init__").alias("delta_id"),
        F.lit(0).alias("run_seq"), "rows",
        F.lit(None).cast("long").alias("delta_fp"),
    ).write.mode("overwrite").parquet(f"{state}/hist_manifest")
    counts = _write_tiers(h, state, cfg)
    date_rows = dates.collect()  # one row per calendar date — tiny
    _write_gapfill(spark, state, None, cfg)
    n = sum(int(r["rows"]) for r in date_rows)
    h.unpersist()
    return {"mode": "init", "rows": n, "dates": len(date_rows),
            "tier_points": counts, "block_dates": len(date_rows)}


def _probe_delta(dh: DataFrame) -> tuple[list[str], int]:
    """The dates a delta's histogram touches and its content fingerprint,
    from ONE query. The fingerprint is bit_xor of xxhash64 over every
    histogram row — order-independent, 0 for an empty delta — taken per
    date and folded here: xor is associative, so the fold equals one
    bit_xor over the whole delta, the value stores already record."""
    rows = (
        dh.groupBy(DATE_COL)
        .agg(F.bit_xor(F.xxhash64(F.struct(*HIST_KEYS, "cnt", DATE_COL))).alias("fp"))
        .collect()
    )
    fp = 0
    for r in rows:
        fp ^= int(r["fp"])
    return sorted(r[DATE_COL] for r in rows), fp


def _ledger(manifest: DataFrame, delta_id: str) -> tuple[int, set[str], set[int]]:
    """One aggregate over the manifest: the highest run_seq so far, the
    dates already recorded for ``delta_id``, and the content fingerprints
    recorded with them. Files written before fingerprints read
    ``delta_fp`` as null under the pinned schema, and collect_set skips
    nulls."""
    mine = F.col("delta_id") == delta_id
    row = manifest.agg(
        F.max("run_seq"),
        F.collect_set(F.when(mine, F.col(DATE_COL))),
        F.collect_set(F.when(mine, F.col("delta_fp"))),
    ).collect()[0]
    return row[0] or 0, set(row[1]), {int(x) for x in row[2]}


def refresh(
    spark: SparkSession, delta: DataFrame, delta_id: str, state: str, cfg: RollupConfig
) -> dict:
    if delta_id.startswith("__"):
        raise ValueError(
            f"delta_id {delta_id!r} is reserved (double-underscore prefix is "
            "used by internal scratch like staging/__compact__)"
        )
    t0 = time.time()
    dh = _with_date(histogram(delta, cfg, "minute")).persist()
    try:
        return _refresh_inner(spark, dh, delta_id, state, cfg, t0)
    finally:
        dh.unpersist()


def _refresh_inner(
    spark: SparkSession,
    dh: DataFrame,
    delta_id: str,
    state: str,
    cfg: RollupConfig,
    t0: float,
) -> dict:
    touched, dfp = _probe_delta(dh)

    # late data for a date whose HIST was already expired is rejected: the
    # mergeable state it would need is gone, and re-deriving coarser tiers
    # from the delta alone would overwrite retained full-day rollups with
    # delta-only aggregates. Out-of-retention data never mutates the store.
    rejected: list[str] = []
    if _exists(spark, f"{state}/expiry_log"):
        expired = {
            r[DATE_COL]
            for r in spark.read.schema(_store_schema("expiry_log", cfg))
            .parquet(f"{state}/expiry_log")
            .filter(F.col("table") == "hist")
            .select(DATE_COL)
            .distinct()
            .collect()
        }
        rejected = [d for d in touched if d in expired]
        touched = [d for d in touched if d not in expired]

    manifest = spark.read.schema(_store_schema("hist_manifest", cfg))
    last_seq, done, prior_fps = _ledger(manifest.parquet(f"{state}/hist_manifest"), delta_id)
    # the delta's content fingerprint detects delta_id reuse with different
    # content — e.g. a stream restarted with a fresh checkpoint but the same
    # id_prefix — before any mutation
    if any(fp != dfp for fp in prior_fps):
        raise ValueError(
            f"delta_id {delta_id!r} was previously applied with DIFFERENT "
            "content — refusing to merge. Use a fresh delta_id (or a new "
            "id_prefix for a restarted stream checkpoint)."
        )
    # a (date, delta_id) pair with ANY manifest entry is done forever —
    # including after LATER deltas touched the date, when re-merging this
    # delta (or promoting its stale staging) would corrupt the newer state
    pending = [d for d in touched if d not in done]
    run_seq = last_seq + 1
    staging = f"{state}/staging/{delta_id}"
    hist_schema = _store_schema("hist", cfg)  # staging's too

    if pending:
        # STAGE — pure function of the (un-mutated for pending dates) hist.
        # A surviving staging dir is reused ONLY when its _DELTA_FP sidecar
        # matches this delta's content: with zero manifest rows for the id
        # the fp guard above has nothing to compare, and a stale staging
        # from a DIFFERENT delta reusing the id must neither be promoted
        # (wrong data) nor silently recomputed (the old run may have
        # promoted some partitions before losing its manifest append —
        # re-merging into that mutated hist would double-count). That
        # ambiguous state is an error demanding operator attention.
        staging_fp = _read_marker(spark, f"{staging}/_DELTA_FP")
        staged_ok = _exists(spark, f"{staging}/_SUCCESS") and staging_fp == str(dfp)
        if not staged_ok:
            if staging_fp is not None and staging_fp != str(dfp):
                raise ValueError(
                    f"staging for delta_id {delta_id!r} holds DIFFERENT content "
                    f"(fp {staging_fp} != {dfp}) and no manifest rows recorded "
                    "it — cannot tell whether the old delta was partially "
                    "promoted. Inspect the store; remove the staging dir only "
                    "if the manifest and hist are known consistent."
                )
            # no _SUCCESS, or _SUCCESS without a sidecar (stage step never
            # completed, so promote never ran and hist is un-mutated for
            # pending dates) — recomputing is safe
            _delete(spark, staging)
            stored = _read_state(spark, f"{state}/hist", pending, hist_schema)
            merged = (
                stored.unionByName(dh.filter(F.col(DATE_COL).isin(pending)))
                .groupBy(*HIST_KEYS, DATE_COL)
                .agg(F.sum("cnt").alias("cnt"))
            )
            merged.write.mode("overwrite").partitionBy(DATE_COL).parquet(staging)
            _write_marker(spark, f"{staging}/_DELTA_FP", str(dfp))
        # PROMOTE — deterministic replace from staging, then lineage
        staged = _read_state(spark, staging, pending, hist_schema)
        _write_partitioned(staged, f"{state}/hist")
        staged.groupBy(DATE_COL).agg(F.sum("cnt").alias("rows")).select(
            DATE_COL, F.lit(delta_id).alias("delta_id"),
            F.lit(run_seq).alias("run_seq"), "rows",
            F.lit(dfp).alias("delta_fp"),
        ).write.mode("append").parquet(f"{state}/hist_manifest")

    # DERIVE — tiers are a pure function of the final hist for touched dates
    counts: dict[str, int] = {}
    gapfill_dates = 0
    if touched:
        hist = _read_state(spark, f"{state}/hist", touched, hist_schema)
        counts = _write_tiers(hist, state, cfg)
        gapfill_dates = _write_gapfill(spark, state, touched, cfg)
    # the delta is fully applied and derived: drop its staging scratch so
    # a future reuse of the id can never promote a stale snapshot (the
    # manifest fp guard and the _DELTA_FP sidecar both catch
    # reuse-with-different-content even if this cleanup is lost to a crash)
    _delete(spark, staging)
    return {
        "mode": "refresh", "delta_id": delta_id, "run_seq": run_seq,
        "touched_dates": len(touched), "merged_dates": len(pending),
        "skipped_dates": len(touched) - len(pending),
        "rejected_expired_dates": len(rejected),
        "tier_points_touched": counts, "block_dates": len(touched),
        "gapfill_dates": gapfill_dates,
        "wall_sec": round(time.time() - t0, 2),
    }



def compact(spark: SparkSession, state: str, max_files: int = 4) -> dict:
    """Small-file compaction for the histogram store: every delta merge
    rewrites its touched date partitions, and a long-lived store ingesting
    many small deltas accumulates small files per date. Rewrite every date
    partition whose file count exceeds ``max_files`` down to ONE file
    (repartition by date → one task owns each date's rows), via the same
    idempotent dynamic partition overwrite. Content-neutral and
    ledger-neutral: the manifest is deliberately NOT touched — compaction
    must never reset a date's applied-delta lineage, or a retried delta
    would re-merge. Single-writer assumption: do not compact concurrently
    with a refresh."""
    jvm = spark._jvm
    hist = jvm.org.apache.hadoop.fs.Path(f"{state}/hist")
    fs = hist.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hist):
        return {"mode": "compact", "compacted_dates": 0, "max_files_before": 0}
    crowded = []
    for status in fs.listStatus(hist):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        if not name.startswith(f"{DATE_COL}="):
            continue
        n = sum(
            1
            for f in fs.listStatus(status.getPath())
            if f.getPath().getName().startswith("part-")
        )
        if n > max_files:
            crowded.append((name.split("=", 1)[1], n))
    if crowded:
        dates = [d for d, _ in crowded]
        # stage → promote, same discipline as refresh(): never overwrite
        # a path while a live plan still reads it, and a crash mid-compact
        # leaves either the old files or the full replacement, never less
        stage = f"{state}/staging/__compact__"
        hist_schema = _store_schema("hist")
        rows = _read_state(spark, f"{state}/hist", dates, hist_schema).repartition(F.col(DATE_COL))
        rows.write.mode("overwrite").partitionBy(DATE_COL).parquet(stage)
        _write_partitioned(_read_state(spark, stage, dates, hist_schema), f"{state}/hist")
        _delete(spark, stage)
    return {
        "mode": "compact",
        "compacted_dates": len(crowded),
        "max_files_before": max((n for _, n in crowded), default=0),
    }



def _list_date_partitions(spark: SparkSession, path: str) -> list[str]:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    out = []
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(f"{DATE_COL}="):
            out.append(name.split("=", 1)[1])
    return sorted(out)


def expire(
    spark: SparkSession,
    state: str,
    policy: dict[str, int | None] | None = None,
    now_date: str | None = None,
) -> dict:
    """Physical retention enforcement on the state store: DROP whole date
    partitions older than each tier's horizon — the storage-level twin of
    `operators/retention.apply_retention` (which filters rows). At 10^12
    rows expiry must be a directory delete, not a rewrite; date
    partitioning makes the two coincide.

    ``policy`` maps table key → max age seconds (None = keep forever);
    keys are tier names plus ``"hist"`` for the mergeable histogram state
    (defaults to the finest tier's horizon — once the 1m tier is out of
    horizon there is nothing left to re-derive from minute state). The
    clock is the DATA watermark: the newest date partition of each table
    (matching apply_retention's deterministic-from-data discipline; pass
    ``now_date`` "YYYY-MM-DD" to anchor to wall clock). A date is kept
    while its whole-day distance from the watermark is within
    ceil(horizon/86400) days — conservative at the boundary, so a
    partition is only dropped when every bucket in it is expired under
    any clock within the watermark day.

    Ledger-neutral like compact(): a dropped date keeps its applied-delta
    lineage. A LATE delta for a hist-expired date is REJECTED by
    refresh() (it consults ``expiry_log``): re-deriving coarser tiers
    from the delta alone would overwrite retained full-day rollups with
    delta-only aggregates, so out-of-retention data never mutates the
    store at all. Each drop appends an audit row to ``expiry_log/``
    (which doubles as that rejection's source of truth). Idempotent: a
    second run with the same policy and watermark drops nothing."""
    from numalogic_spark.operators.retention import DEFAULT_POLICY

    if policy is None:
        policy = dict(DEFAULT_POLICY)
    policy = dict(policy)
    policy.setdefault("hist", min(
        (v for k, v in policy.items() if k != "hist" and v is not None),
        default=None,
    ))
    # the ladder invariant: hist (the mergeable state every tier derives
    # from) must never outlive a tier — otherwise a late delta for a date
    # with live hist but expired tier would re-derive (resurrect) that
    # tier's dropped partitions. refresh()'s rejection keys on hist alone,
    # so enforce the invariant here instead of per-table bookkeeping.
    hist_age = policy.get("hist")
    if hist_age is not None:
        for k, v in policy.items():
            if k != "hist" and v is not None and v < hist_age:
                raise ValueError(
                    f"policy invalid: tier {k!r} horizon ({v}s) is shorter "
                    f"than hist's ({hist_age}s) — hist must be the ladder's "
                    "floor or a late delta could resurrect expired tier "
                    "partitions"
                )
    import datetime as _dt

    jvm = spark._jvm
    fs_conf = spark._jsc.hadoopConfiguration()
    dropped: dict[str, list[str]] = {}
    audit_rows = []
    to_delete: list[str] = []
    for key, max_age in policy.items():
        if key == "hist":
            paths = [("hist", f"{state}/hist")]
        elif key == "1m":
            # blocks are derived 1m state — same horizon, same drop unit
            paths = [("1m", f"{state}/tier_1m"), ("blocks_1m", f"{state}/blocks_1m"),
                     ("gapfill_1m", f"{state}/gapfill_1m")]
        else:
            paths = [(key, f"{state}/tier_{key}")]
        dropped[key] = []
        for label, path in paths:
            dates = _list_date_partitions(spark, path)
            if not dates or max_age is None:
                continue
            wm = now_date or dates[-1]
            wm_d = _dt.date.fromisoformat(wm)
            horizon_days = -(-int(max_age) // 86400)  # ceil
            gone = [
                d for d in dates
                if (wm_d - _dt.date.fromisoformat(d)).days > horizon_days
            ]
            for d in gone:
                to_delete.append(f"{path}/{DATE_COL}={d}")
                audit_rows.append((label, d, wm, int(max_age)))
            if label == key:
                dropped[key] = gone
    # WRITE-AHEAD: the audit rows land BEFORE any directory is deleted —
    # a crash mid-delete leaves logged-but-present partitions (harmless:
    # the rerun lists and drops them again, appending duplicate audit
    # rows that the rejection's distinct-dates read absorbs), never
    # deleted-but-unlogged ones (which would silently re-open the
    # late-delta tier-overwrite path the log exists to close).
    if audit_rows:
        spark.createDataFrame(
            audit_rows, "table string, bucket_date string, watermark string, max_age_s long"
        ).write.mode("append").parquet(f"{state}/expiry_log")
    for path in to_delete:
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(fs_conf).delete(p, True)
    return {
        "mode": "expire",
        "dropped": {k: len(v) for k, v in dropped.items()},
        "dropped_dates": dropped,
    }


def streaming_refresh(
    stream_df: DataFrame, state: str, cfg: RollupConfig | None = None,
    checkpoint: str | None = None, available_now: bool = False,
    id_prefix: str = "batch",
):
    """Continuous ingestion into the refresh state store: every micro-batch
    becomes a delta with delta_id = "<id_prefix>-<batchId>" and runs the
    SAME exactly-once merge protocol as a batch delta. batchIds are only
    stable within one checkpoint lineage — when starting over with a NEW
    checkpoint against the same state store, pass a fresh ``id_prefix``
    so replayed ids never collide with a previous generation's ledger
    entries. Structured Streaming
    replays a failed micro-batch under the SAME batchId, and refresh() is
    idempotent per delta_id (per-date lineage + staging), so the composed
    pipeline is exactly-once end-to-end WITHOUT an idempotent sink
    requirement — the ledger is the sink's own transaction log. Returns
    the started StreamingQuery.

    This is the streaming twin of the reference's continuous ingestion
    (numalogic feeds Druid from a stream and lets the broker merge
    segments); here each micro-batch lands as merged, query-ready exact
    tiers."""
    cfg = cfg or RollupConfig()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        refresh(batch_df.sparkSession, batch_df, f"{id_prefix}-{batch_id}", state, cfg)

    writer = stream_df.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()



def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True)
    ap.add_argument("--init", action="store_true")
    ap.add_argument("--input", help="raw base table (with --init)")
    ap.add_argument("--delta", help="raw delta table")
    ap.add_argument("--delta-id", help="stable id of the delta (ledger key)")
    ap.add_argument("--gen-rows", type=int, default=0, help="generate the input first (smoke)")
    ap.add_argument("--compact", action="store_true",
                    help="compact crowded hist date partitions instead of merging")
    ap.add_argument("--max-files", type=int, default=4)
    ap.add_argument("--expire", action="store_true",
                    help="drop date partitions beyond each tier's retention horizon")
    ap.add_argument("--policy", default=None,
                    help='JSON retention policy, e.g. {"1m": 604800, "1h": 7776000, "1d": null}')
    ap.add_argument("--now-date", default=None, help="YYYY-MM-DD wall-clock anchor (default: data watermark)")
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--ts-col", default="event_ts")
    ap.add_argument("--value-col", default="n_tok")
    ap.add_argument("--non-integral", action="store_true",
                    help="value column is a double (sums via exact decimal)")
    args = ap.parse_args()

    spark = get_spark("refresh_job")
    cfg = RollupConfig(
        source_col=args.source_col, ts_col=args.ts_col, value_col=args.value_col,
        integral_values=not args.non_integral, decimal_sum=args.non_integral,
    )
    if args.init:
        if args.gen_rows:
            from numalogic_spark.datagen import gen_tokens_spark

            gen_tokens_spark(spark, args.gen_rows, n_sources=20).write.mode(
                "overwrite"
            ).parquet(args.input)
        out = bootstrap(spark, spark.read.parquet(args.input), args.state, cfg)
    elif args.compact:
        out = compact(spark, args.state, args.max_files)
    elif args.expire:
        out = expire(
            spark, args.state,
            json.loads(args.policy) if args.policy else None, args.now_date,
        )
    else:
        if not (args.delta and args.delta_id):
            raise SystemExit("--delta and --delta-id required without --init")
        out = refresh(spark, spark.read.parquet(args.delta), args.delta_id, args.state, cfg)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
