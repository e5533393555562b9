"""Each streaming operator ≡ its batch counterpart on the same rows split
into micro-batches: the 1m rollup (and its watermark drop of late data),
the stateful EWM and counter-delta operators, and M4 and sessionize."""

import numpy as np
import pandas as pd
import pytest

from numalogic_spark.datagen import TOKEN_SCHEMA, gen_tokens_pandas
from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused
from numalogic_spark.streaming.rollup_stream import streaming_ewm, streaming_rollup


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Token rows split into 3 parquet files (≈3 micro-batches)."""
    d = tmp_path_factory.mktemp("stream_src")
    pdf = gen_tokens_pandas(6_000, n_sources=5)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 3)):
        # one file per chunk: the file stream source orders by modification
        # time, so multi-file chunks would arrive out of event-time order
        spark.createDataFrame(pdf.iloc[chunk], TOKEN_SCHEMA).repartition(1).write.parquet(
            str(d / f"part{i}")
        )
    return str(d), pdf


def test_streaming_rollup_matches_batch(spark, stream_dir):
    d, pdf = stream_dir
    stream = spark.readStream.schema(TOKEN_SCHEMA).option("pathGlobFilter", "*.parquet").parquet(d + "/part*")
    agg = streaming_rollup(stream, RollupConfig())
    q = (
        agg.writeStream.format("memory")
        .queryName("roll1m")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from roll1m").toPandas().sort_values(["source", "bucket_ts"], ignore_index=True)

    batch_df = spark.createDataFrame(pdf, TOKEN_SCHEMA)
    cfg = RollupConfig()
    exp = (
        rollup_tiers_fused(histogram(batch_df, cfg, "minute"), cfg)
        .filter("tier = '1m'")
        .toPandas()
        .sort_values(["source", "bucket_ts"], ignore_index=True)
    )
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got["count"].to_numpy(), exp["count"].to_numpy())
    np.testing.assert_allclose(got["n_tok_sum"].to_numpy(dtype=float), exp["n_tok_sum"].to_numpy(dtype=float))
    np.testing.assert_allclose(got["n_tok_mean"].to_numpy(), exp["n_tok_mean"].to_numpy(), rtol=1e-9)
    # p95 is approximate in streaming (mergeable sketch, rank-based — not
    # interpolated like the exact batch path): assert each bucket's approx
    # value IS a bucket member whose rank position is ≥ 0.85
    pdf2 = pdf.assign(bucket_ts=pdf["event_ts"].dt.floor("min"))
    groups = {k: np.sort(g["n_tok"].to_numpy()) for k, g in pdf2.groupby(["source", "bucket_ts"])}
    for _, r in got.iterrows():
        vals = groups[(r["source"], r["bucket_ts"])]
        assert r["n_tok_p95"] in vals
        rank = np.searchsorted(vals, r["n_tok_p95"], side="right") / len(vals)
        assert rank >= 0.85


def test_streaming_ewm_matches_batch_kernel(spark, stream_dir):
    d, pdf = stream_dir
    stream = (
        spark.readStream.schema(TOKEN_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(d + "/part*")
        .selectExpr("source", "event_ts", "cast(n_tok as double) as value")
    )
    out = streaming_ewm(stream, beta=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("ewmq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.sql("select * from ewmq")
        .toPandas()
        .sort_values(["source", "event_ts"], ignore_index=True)
    )
    # batch oracle: pandas ewm over each full series
    exp = []
    for src, g in pdf.groupby("source"):
        g = g.sort_values("event_ts")
        e = g["n_tok"].astype(float).ewm(alpha=0.5).mean()
        exp.append(pd.DataFrame({"source": src, "event_ts": g["event_ts"].to_numpy(), "ewm": e.to_numpy()}))
    expdf = pd.concat(exp).sort_values(["source", "event_ts"], ignore_index=True)
    assert len(got) == len(expdf)
    np.testing.assert_allclose(got["ewm"].to_numpy(), expdf["ewm"].to_numpy(), rtol=1e-9)


def test_streaming_rollup_drops_late_data(spark, tmp_path):
    """Watermark semantics: an event arriving after its window's watermark
    has passed is DROPPED — the finalized bucket keeps its on-time count;
    windows still open at the watermark are never emitted in append mode."""
    import datetime as dt

    from numalogic_spark.streaming.rollup_stream import streaming_rollup

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    batches = [
        # batch 1: minute-0 bucket (2 events) + minute-10 -> watermark 10:08
        pd.DataFrame(
            {
                "doc_id": ["a", "b", "c"],
                "source": "src",
                "event_ts": [t(0), t(0), t(10)],
                "n_tok": [5, 7, 11],
            }
        ),
        # batch 2: on-time event; the watermark pass finalizes + evicts the
        # minute-0 window at this batch's end
        pd.DataFrame(
            {"doc_id": ["e"], "source": "src", "event_ts": [t(11)], "n_tok": [13]}
        ),
        # batch 3: LATE event for the already-finalized minute-0 -> DROPPED
        pd.DataFrame(
            {"doc_id": ["d"], "source": "src", "event_ts": [t(0)], "n_tok": [1000]}
        ),
    ]
    schema = "doc_id string, source string, event_ts timestamp, n_tok long"
    d = tmp_path / "late_src"
    # the file source orders micro-batches by file modification time; writes
    # can land in the same clock tick — force strictly increasing mtimes
    import glob
    import os
    import time as _time

    now = _time.time()
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).repartition(1).write.parquet(str(d / f"part{i}"))
        for f in glob.glob(str(d / f"part{i}" / "*.parquet")):
            os.utime(f, (now - 60 + 10 * i, now - 60 + 10 * i))
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/part*")
    )
    q = (
        streaming_rollup(stream, watermark="2 minutes")
        .writeStream.format("memory")
        .queryName("late_roll")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from late_roll").toPandas().set_index("bucket_ts")
    # minute-0 bucket finalized with ONLY the two on-time events
    assert got.loc[t(0), "count"] == 2
    assert got.loc[t(0), "n_tok_sum"] == 12.0
    # the minute-11 window never crossed the watermark -> not emitted
    assert t(11) not in got.index


def test_streaming_counter_deltas_match_batch(spark, tmp_path):
    """Stateful streaming counter deltas ≡ the batch lag() kernel across
    micro-batch splits (one scalar of state: the last counter value);
    resets detected identically."""
    import datetime as dt

    from pyspark.sql import functions as F

    from numalogic_spark.operators.promql import counter_deltas
    from numalogic_spark.streaming.rollup_stream import streaming_counter_deltas

    rng = np.random.default_rng(31)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for s in range(3):
        c = 0.0
        for i in range(120):
            c += float(np.round(rng.uniform(0.5, 9.5), 2))
            if c >= 150.0:
                c -= 150.0  # wrap: a hard counter reset
            rows.append((f"s{s}", t0 + dt.timedelta(seconds=10 * i), round(c, 2)))
    pdf = pd.DataFrame(rows, columns=["source", "event_ts", "value"])
    schema = "source string, event_ts timestamp, value double"

    d = tmp_path / "ctr_src"
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        spark.createDataFrame(pdf.iloc[chunk], schema).repartition(1).write.parquet(
            str(d / f"part{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/part*")
    )
    q = (
        streaming_counter_deltas(stream)
        .writeStream.format("memory")
        .queryName("ctrq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM ctrq")
        .toPandas()
        .sort_values(["source", "event_ts"], ignore_index=True)
    )

    batch_in = spark.createDataFrame(
        pdf.assign(
            ts_s=(pdf["event_ts"] - t0).dt.total_seconds().astype("int64"),
            event_id=np.arange(len(pdf)),
        )
    )
    exp = (
        counter_deltas(batch_in)
        .select(
            "source", "event_ts", F.col("adjusted").cast("double"), "is_reset"
        )
        .toPandas()
        .sort_values(["source", "event_ts"], ignore_index=True)
    )
    assert len(got) == len(exp)
    assert (got["source"] == exp["source"]).all()
    both_nan = got["adjusted"].isna() & exp["adjusted"].isna()
    close = (got["adjusted"] - exp["adjusted"]).abs() < 1e-9
    assert (both_nan | close).all()
    assert (got["is_reset"].astype(bool) == exp["is_reset"].astype(bool)).all()
    # at least one reset actually exercised
    assert got["is_reset"].astype(bool).sum() > 0


def test_streaming_m4_matches_batch(spark, tmp_path):
    """Streaming M4 pixels ≡ the batch m4_downsample on the same input
    (mergeable struct-extreme state across micro-batches)."""
    import datetime as dt

    from numalogic_spark.operators.promql import m4_downsample
    from numalogic_spark.streaming.rollup_stream import streaming_m4

    rng = np.random.default_rng(37)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for s in range(3):
        for i in range(300):
            rows.append(
                (f"s{s}", t0 + dt.timedelta(seconds=60 * i), s * 1000 + i,
                 float(np.round(rng.normal(10, 4), 2)))
            )
    pdf = pd.DataFrame(rows, columns=["source", "event_ts", "event_id", "value"])
    schema = "source string, event_ts timestamp, event_id long, value double"

    d = tmp_path / "m4_src"
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 3)):
        spark.createDataFrame(pdf.iloc[chunk], schema).repartition(1).write.parquet(
            str(d / f"part{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/part*")
    )
    q = (
        streaming_m4(stream, window="1 hour", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("m4q")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("SELECT * FROM m4q")
        .toPandas()
        .sort_values(["source", "bucket_s"], ignore_index=True)
    )
    batch_in = spark.createDataFrame(
        pdf.assign(
            ts_s=(pdf["event_ts"] - dt.datetime(1970, 1, 1)).dt.total_seconds().astype("int64")
        )
    )
    exp = (
        m4_downsample(batch_in, bucket_s=3600)
        .toPandas()
        .sort_values(["source", "bucket_s"], ignore_index=True)
    )
    assert len(got) == len(exp)
    for c in ("n", "t_first", "v_first", "t_last", "v_last",
              "t_min", "v_min", "t_max", "v_max"):
        assert (got[c] == exp[c]).all(), c


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Native session_window streaming sessions ≡ the batch lag+cumsum
    sessionize on the same input. Append mode only emits sessions the
    watermark has CLOSED, and availableNow does not advance the
    watermark after the final batch — so a far-future sentinel event per
    key rides in a last file to flush every real session (its own
    session is filtered out of the comparison). Gap semantics:
    session_window splits at delta >= gap; batch splits at delta > gap_s
    — equivalent at gap_s = gap - 1 on integral-second data."""
    import datetime as dt

    from numalogic_spark.operators.promql import sessionize
    from numalogic_spark.streaming.rollup_stream import streaming_sessionize

    rng = np.random.default_rng(43)
    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for u in range(4):
        t = 0
        for i in range(80):
            t += int(rng.choice([30, 300, 2000], p=[0.5, 0.3, 0.2]))
            rows.append((u, t0 + dt.timedelta(seconds=t), u * 1000 + i,
                         float(np.round(rng.uniform(0, 5), 2))))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_ts", "event_id", "value"])
    schema = "user_id long, event_ts timestamp, event_id long, value double"

    d = tmp_path / "sess_src"
    # chunk by EVENT TIME, not row index: the fixture lays users out
    # sequentially, so index chunks would deliver user 1's early events
    # after user 0's late ones — the watermark would (correctly) drop
    # them as late data, which is not what this test probes
    by_time = pdf.sort_values("event_ts", ignore_index=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(by_time)), 3)):
        spark.createDataFrame(by_time.iloc[chunk], schema).repartition(1).write.parquet(
            str(d / f"part{i}")
        )
    flush_ts = t0 + dt.timedelta(days=10)
    sentinel = pd.DataFrame(
        {"user_id": range(4), "event_ts": [flush_ts] * 4,
         "event_id": [10**6 + u for u in range(4)], "value": [0.0] * 4}
    )
    spark.createDataFrame(sentinel, schema).repartition(1).write.parquet(
        str(d / "part_flush")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/part*")
    )
    q = (
        streaming_sessionize(stream, gap="30 minutes", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sessq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cutoff = int(flush_ts.timestamp())
    got = (
        spark.sql(f"SELECT * FROM sessq WHERE start_s < {cutoff}")
        .toPandas()
        .sort_values(["user_id", "start_s"], ignore_index=True)
    )
    batch_in = spark.createDataFrame(
        pdf.assign(
            ts_s=(pdf["event_ts"] - dt.datetime(1970, 1, 1)).dt.total_seconds().astype("int64")
        )
    )
    exp = (
        sessionize(batch_in, gap_s=1799, key_cols=("user_id",))
        .toPandas()
        .sort_values(["user_id", "start_s"], ignore_index=True)
    )
    assert len(got) == len(exp)
    for c in ("start_s", "end_s", "n_events", "duration_s"):
        assert (got[c].to_numpy() == exp[c].to_numpy()).all(), c
    assert np.allclose(got["value_sum"], exp["value_sum"])
