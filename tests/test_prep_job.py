"""End-to-end runs of the stream, rollup and retention jobs
(`jobs/*_job.py`): the streaming drain agrees with the batch rollup, the
rollup job's summary matches DuckDB over its input and a rerun skips every
bucket, and retention's kept and expired rows match its audit."""

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="spark-submit not available")
def test_stream_job_end_to_end(tmp_path):
    """jobs/stream_job.py --once drains a static token dir through the
    watermarked streaming rollup; emitted 1m buckets must agree with the
    batch rollup on every bucket the watermark finalized."""
    import duckdb

    zip_path = tmp_path / "pkg.zip"
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", str(zip_path), "numalogic_spark"],
        cwd=REPO, check=True,
    )
    src = tmp_path / "tokens"
    gen = (
        "import sys; sys.path.insert(0, %r); "
        "from numalogic_spark.session import get_spark; "
        "from numalogic_spark.datagen import gen_tokens_spark; "
        "s = get_spark('gen', cores=2); "
        "gen_tokens_spark(s, 20000, n_sources=5).coalesce(4).write.parquet(%r); s.stop()"
        % (REPO, str(src))
    )
    subprocess.run([sys.executable, "-c", gen], cwd=REPO, check=True, timeout=240)
    out, ckpt = tmp_path / "tier1m", tmp_path / "ckpt"
    r = subprocess.run(
        [
            SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
            "jobs/stream_job.py", "--input", str(src), "--output", str(out),
            "--checkpoint", str(ckpt), "--once", "--max-files-per-trigger", "2",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import json as _json

    summary = _json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["tier_rows"] > 0 and summary["sources"] == 5
    # streamed buckets match the batch aggregate for the same (source, bucket)
    mism = duckdb.sql(
        f"""
        WITH streamed AS (
          SELECT source, bucket_ts, "count" AS cnt, n_tok_sum
          FROM '{out}/*/*.parquet'
        ), batch AS (
          SELECT source, date_trunc('minute', event_ts) AS bucket_ts,
                 count(*) AS cnt, sum(CAST(n_tok AS DOUBLE)) AS n_tok_sum
          FROM '{src}/*.parquet' GROUP BY 1, 2
        )
        SELECT count(*) FROM streamed s JOIN batch b
          USING (source, bucket_ts)
        WHERE s.cnt != b.cnt OR abs(s.n_tok_sum - b.n_tok_sum) > 1e-6
        """
    ).fetchone()[0]
    assert mism == 0


def test_stream_job_corrupt_output_fails(spark, tmp_path, monkeypatch, capsys):
    """A part file of the sink that its `_spark_metadata` log lists is
    corrupted after a drain: the rerun, with no new input, fails instead
    of reporting an empty drain."""
    from jobs import stream_job
    from numalogic_spark.datagen import gen_tokens_spark

    src, out = tmp_path / "tokens", tmp_path / "tier1m"
    gen_tokens_spark(spark, 3000, n_sources=3).coalesce(2).write.parquet(str(src))
    argv = [
        "stream_job.py", "--input", str(src), "--output", str(out),
        "--checkpoint", str(tmp_path / "ckpt"), "--once",
    ]
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.setattr(stream_job, "get_spark", lambda *a, **k: spark)

    stream_job.main()
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["tier_rows"] > 0

    log = sorted((out / "_spark_metadata").glob("[0-9]*"), key=lambda p: int(p.name))
    listed = [
        json.loads(line)["path"]
        for p in log
        for line in p.read_text().splitlines()[1:]
    ]
    part = listed[0].removeprefix("file://")
    size = os.path.getsize(part)
    with open(part, "r+b") as f:
        f.write(b"\0" * size)

    with pytest.raises(Exception, match=re.escape(os.path.basename(part))):
        stream_job.main()


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="spark-submit not available")
def test_rollup_job_end_to_end(tmp_path):
    """jobs/rollup_job.py generates its input, then runs the fingerprinted
    histogram, the manifest-wrapped 1m tier, gap-fill and block stages: the
    summary's rows, tokens and 1m points match DuckDB over the input, and
    a rerun on the same input skips every bucket of every stage."""
    import duckdb

    zip_path = tmp_path / "pkg.zip"
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", str(zip_path), "numalogic_spark"],
        cwd=REPO, check=True,
    )
    src = tmp_path / "tokens"
    cmd = [
        SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
        "jobs/rollup_job.py", "--input", str(src), "--output", str(tmp_path / "tier"),
        "--manifest", str(tmp_path / "manifest"), "--buckets", "4",
    ]

    def run(*extra):
        r = subprocess.run(
            cmd + list(extra), cwd=REPO, capture_output=True, text=True, timeout=420
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])

    first = run("--gen-rows", "5000")
    rows, tokens, minutes = duckdb.sql(
        f"""
        SELECT count(*), sum(n_tok),
               count(DISTINCT (source, floor(epoch(event_ts) / 60)))
        FROM '{src}/*.parquet'
        """
    ).fetchone()
    assert (first["rows"], first["tokens"], first["tier_1m_points"]) == (
        rows, tokens, minutes,
    )
    assert first["processed_buckets"] == 4

    second = run()
    processed = {k: v for k, v in second.items() if "processed" in k}
    skipped = {k: v for k, v in second.items() if "skipped" in k}
    assert len(processed) == len(skipped) == 3
    assert set(processed.values()) == {0} and set(skipped.values()) == {4}


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="spark-submit not available")
def test_retention_job_end_to_end(tmp_path, spark):
    """Retention/compaction pass: tier table in, retained set (partitioned
    by tier) + per-tier audit out; kept+expired covers the input and the
    retained output matches the audit counts."""
    from pyspark.sql import functions as F

    from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused

    cfg = RollupConfig(
        source_col="event_type", ts_col="ts", value_col="value",
        integral_values=False, decimal_sum=True,
    )
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tiers_path = tmp_path / "tiers"
    rollup_tiers_fused(histogram(ev, cfg, "minute"), cfg).write.parquet(
        str(tiers_path)
    )
    n_in = spark.read.parquet(str(tiers_path)).count()

    zip_path = tmp_path / "pkg.zip"
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", str(zip_path), "numalogic_spark"],
        cwd=REPO, check=True,
    )
    out = tmp_path / "retained"
    audit = tmp_path / "audit"
    r = subprocess.run(
        [
            SUBMIT, "--master", "local[4]", "--py-files", str(zip_path),
            "jobs/retention_job.py",
            "--input", str(tiers_path), "--output", str(out),
            "--audit", str(audit),
            "--policy", "1m=259200,1h=864000,1d=keep",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["job"] == "retention"
    import duckdb

    kept_total = sum(t["kept"] for t in summary["tiers"].values())
    expired_total = sum(t["expired"] for t in summary["tiers"].values())
    assert kept_total + expired_total == n_in
    (n_out,) = duckdb.sql(f"select count(*) from '{out}/*/*.parquet'").fetchone()
    assert n_out == kept_total
    # tier-partitioned layout (directory-level pruning for tier reads)
    assert any(p.name.startswith("tier=") for p in out.iterdir())
    # daily tier is keep-forever
    assert summary["tiers"]["1d"]["expired"] == 0
