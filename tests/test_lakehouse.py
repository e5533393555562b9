import pandas as pd
from pyspark.sql import functions as F

from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused
from numalogic_spark.sources.lakehouse import expire_tier, read_tokens, write_tier


def test_write_read_expire_roundtrip(spark, tokens_df, tmp_path):
    path = str(tmp_path / "tiers")
    cfg = RollupConfig()
    fused = rollup_tiers_fused(histogram(tokens_df, cfg, "minute"), cfg)
    tiers = {t: fused.filter(F.col("tier") == t) for t in ("1h", "1d")}
    write_tier(tiers["1d"], path, mode="overwrite")
    write_tier(tiers["1h"], path, mode="append")
    back = spark.read.parquet(path)
    assert set(r["tier"] for r in back.select("tier").distinct().collect()) == {"1h", "1d"}
    n_1h = back.filter("tier = '1h'").count()
    assert n_1h == tiers["1h"].count()

    # retention: expire 1h partitions before the last day — 1d untouched
    days = sorted(r[0] for r in back.filter("tier='1h'").selectExpr("to_date(bucket_ts)").distinct().collect())
    if len(days) > 1:
        cutoff = str(days[-1])
        expire_tier(spark, path, "1h", cutoff)
        after = spark.read.parquet(path)
        assert after.filter(f"tier = '1h' AND to_date(bucket_ts) < '{cutoff}'").count() == 0
        assert after.filter("tier = '1d'").count() == tiers["1d"].count()


def test_read_tokens_schema(spark, tokens_df, tmp_path):
    p = str(tmp_path / "tok")
    tokens_df.write.parquet(p)
    got = read_tokens(spark, p)
    assert got.schema["tokens"].dataType.simpleString() == "array<int>"
    assert got.count() == tokens_df.count()
