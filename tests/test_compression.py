"""Gorilla-style codec round-trip: must be bit-exact (SURVEY §7.1 step 6)."""

import numpy as np
import pytest

from numalogic_spark.functions.compression import (
    compress_tier,
    decode_timestamps,
    decode_values,
    decompress_blocks,
    encode_timestamps,
    encode_values,
)


@pytest.mark.parametrize("n", [0, 1, 2, 3, 100, 5000])
def test_ts_roundtrip_regular(n):
    ts = 1704067200 + np.arange(n, dtype=np.int64) * 60
    np.testing.assert_array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_roundtrip_irregular():
    rng = np.random.default_rng(42)
    deltas = rng.choice([1, 5, 30, 60, 3600, 86400, 10**7], size=999)
    ts = 1704067200 + np.concatenate([[0], np.cumsum(deltas)])
    np.testing.assert_array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_roundtrip_negative_dod():
    ts = np.array([0, 100, 150, 160, 161, 400, 100000, 100001], dtype=np.int64)
    np.testing.assert_array_equal(decode_timestamps(encode_timestamps(ts)), ts)


def test_ts_compression_ratio():
    """Regular timeline → ~3 bits/point (all dod==0) vs 64-bit raw."""
    ts = 1704067200 + np.arange(4096, dtype=np.int64) * 60
    enc = encode_timestamps(ts)
    assert len(enc) < 4096 * 8 / 10  # >10x better than raw int64


@pytest.mark.parametrize("n", [0, 1, 2, 100, 5000])
def test_val_roundtrip_walk(n):
    rng = np.random.default_rng(7)
    v = np.cumsum(rng.normal(0, 1, n))
    got = decode_values(encode_values(v))
    np.testing.assert_array_equal(got.view(np.uint64), v.view(np.uint64))  # bit-exact


def test_val_roundtrip_special():
    v = np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1.5, 1.5, 1.5, -123.456, 1e300, 5e-324])
    got = decode_values(encode_values(v))
    np.testing.assert_array_equal(got.view(np.uint64), v.view(np.uint64))


def test_val_compression_ratio_constant():
    v = np.full(4096, 1234.5)
    enc = encode_values(v)
    assert len(enc) < 4096  # 1 bit/point + header vs 8 bytes/point


def test_spark_roundtrip(spark, tokens_df):
    """Tier table → blocks → points: exact equality on (ts, value)."""
    from numalogic_spark.operators.rollup import RollupConfig, histogram, rollup_tiers_fused

    cfg = RollupConfig()
    tier = rollup_tiers_fused(histogram(tokens_df, cfg, "minute"), cfg).filter("tier = '1m'")
    blocks = compress_tier(tier, "n_tok_mean")
    back = decompress_blocks(blocks).toPandas().sort_values(["source", "bucket_ts"], ignore_index=True)
    orig = (
        tier.select("source", "tier", "bucket_ts", "n_tok_mean")
        .toPandas()
        .sort_values(["source", "bucket_ts"], ignore_index=True)
    )
    assert len(back) == len(orig)
    np.testing.assert_array_equal(
        back["value"].to_numpy().view(np.uint64), orig["n_tok_mean"].to_numpy().view(np.uint64)
    )
    assert (back["bucket_ts"].to_numpy() == orig["bucket_ts"].to_numpy()).all()
    # compression actually compresses: blocks smaller than raw points
    sizes = blocks.toPandas()
    raw_bytes = len(orig) * 16  # ts + value
    enc_bytes = int(sizes["ts_block"].map(len).sum() + sizes["val_block"].map(len).sum())
    assert enc_bytes < raw_bytes
