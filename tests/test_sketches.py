"""Deterministic HLL sketch: estimate accuracy vs exact, merge =
recompute, and determinism across partitionings; the portable hash under
HLL/CMS vs a pure-Python oracle."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from numalogic_spark.functions.exprs import (
    _CHAR_MULT,
    _SAMPLE_A,
    _SAMPLE_B,
    MERSENNE31,
    portable_hash_long,
)
from numalogic_spark.operators.sketches import hll_distinct, hll_estimate, hll_registers


def _hash_py(doc_id: str, salt: int = 0) -> int:
    acc = salt % MERSENNE31
    for ch in str(doc_id):
        acc = (acc * _CHAR_MULT + ord(ch)) % MERSENNE31
    return (_SAMPLE_A * acc + _SAMPLE_B) % MERSENNE31


def test_portable_hash_matches_python_oracle(spark, tokens_df):
    # salts 0 and 1 are the HLL register and rho hashes
    got = (
        tokens_df.select(
            "doc_id",
            portable_hash_long("doc_id").alias("h0"),
            portable_hash_long("doc_id", salt=1).alias("h1"),
        )
        .limit(200)
        .toPandas()
    )
    for salt in (0, 1):
        exp = [_hash_py(d, salt) for d in got["doc_id"]]
        assert [int(h) for h in got[f"h{salt}"]] == exp


def _frame(spark, n_groups=4, per_group=(10, 100, 1000, 5000), seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n_groups):
        ids = rng.choice(np.arange(10_000_000), size=per_group[g], replace=False)
        # each id appears 1-3 times: distinct-count must ignore multiplicity
        for i in ids:
            for _ in range(int(rng.integers(1, 4))):
                rows.append((f"g{g}", int(i)))
    pdf = pd.DataFrame(rows, columns=["grp", "uid"])
    return spark.createDataFrame(pdf), {f"g{g}": per_group[g] for g in range(n_groups)}


def test_hll_estimate_within_error(spark):
    df, truth = _frame(spark)
    out = hll_distinct(df, "uid", ["grp"], m=256).toPandas().set_index("grp")
    for g, exact in truth.items():
        est = out.loc[g, "hll_estimate"]
        # 1.04/sqrt(256) ≈ 6.5% standard error; allow 4 sigma
        assert abs(est - exact) / exact < 0.26, (g, est, exact)


def test_hll_small_range_is_near_exact(spark):
    # linear counting regime: tiny cardinalities are almost exact
    df, truth = _frame(spark, per_group=(5, 17, 40, 90))
    out = hll_distinct(df, "uid", ["grp"], m=256).toPandas().set_index("grp")
    for g, exact in truth.items():
        assert abs(out.loc[g, "hll_estimate"] - exact) <= max(2.0, 0.1 * exact)


def test_hll_merge_equals_recompute(spark):
    """Registers merged by MAX across two halves == registers of the
    union — the mergeability that makes the sketch tier-cascadable."""
    df, _ = _frame(spark, per_group=(800, 800, 800, 800))
    a = df.filter(F.col("uid") % 2 == 0)
    b = df.filter(F.col("uid") % 2 == 1)
    ra = hll_registers(a, "uid", ["grp"])
    rb = hll_registers(b, "uid", ["grp"])
    merged = (
        ra.unionByName(rb)
        .groupBy("grp", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est_merged = (
        hll_estimate(merged, ["grp"]).toPandas().sort_values("grp", ignore_index=True)
    )
    est_full = (
        hll_distinct(df, "uid", ["grp"]).toPandas().sort_values("grp", ignore_index=True)
    )
    assert (est_merged["hll_estimate"] == est_full["hll_estimate"]).all()


def test_hll_partitioning_invariant(spark):
    df, _ = _frame(spark, per_group=(500, 500, 500, 500))
    e1 = (
        hll_distinct(df.repartition(1), "uid", ["grp"])
        .toPandas()
        .sort_values("grp", ignore_index=True)
    )
    e16 = (
        hll_distinct(df.repartition(16), "uid", ["grp"])
        .toPandas()
        .sort_values("grp", ignore_index=True)
    )
    assert (e1["hll_estimate"] == e16["hll_estimate"]).all()


def test_hll_sequential_ids_within_error(spark):
    """The regression the quadratic mixer exists for: sequential integer
    ids (auto-increment shape) must estimate as well as random ids —
    the raw affine char fold measured −59% here."""
    rows = []
    for g, (base, n) in enumerate((( 10_000, 2000), (500_000, 8000))):
        for i in range(base, base + n):
            rows.append((f"g{g}", i))
    pdf = pd.DataFrame(rows, columns=["grp", "uid"])
    out = (
        hll_distinct(spark.createDataFrame(pdf), "uid", ["grp"], m=256)
        .toPandas()
        .set_index("grp")
    )
    for g, exact in (("g0", 2000), ("g1", 8000)):
        est = out.loc[g, "hll_estimate"]
        assert abs(est - exact) / exact < 0.26, (g, est, exact)


def test_cms_never_underestimates_and_is_tight(spark):
    from numalogic_spark.operators.sketches import cms_lookup, cms_sketch

    rng = np.random.default_rng(47)
    # Zipf-ish corpus: token tN appears ~2000/N times
    rows = []
    for n in range(1, 200):
        for _ in range(max(2000 // n, 1)):
            rows.append(("g0", f"t{n}"))
    pdf = pd.DataFrame(rows, columns=["grp", "item"])
    exact = pdf.groupby("item").size()
    df = spark.createDataFrame(pdf)
    sk = cms_sketch(df, "item", ["grp"], depth=4, width=256)
    items = spark.createDataFrame(
        pd.DataFrame({"grp": "g0", "item": exact.index})
    )
    est = (
        cms_lookup(sk, items, "item", ["grp"], depth=4, width=256)
        .toPandas()
        .set_index("item")["cms_estimate"]
    )
    n_total = len(pdf)
    for item, ex in exact.items():
        e = est[item]
        assert e >= ex, (item, e, ex)            # CMS never underestimates
        assert e - ex <= 2 * n_total / 256 * 4, (item, e, ex)  # loose CM bound


def test_cms_weighted_equals_unweighted(spark):
    from pyspark.sql import functions as F

    from numalogic_spark.operators.sketches import cms_sketch

    pdf = pd.DataFrame(
        {"grp": ["g"] * 6, "item": ["a", "a", "a", "b", "b", "c"]}
    )
    df = spark.createDataFrame(pdf)
    sk_raw = cms_sketch(df, "item", ["grp"]).toPandas()
    counts = df.groupBy("grp", "item").agg(F.count(F.lit(1)).alias("c"))
    sk_w = cms_sketch(counts, "item", ["grp"], weight_col="c").toPandas()
    key = ["grp", "d", "col"]
    a = sk_raw.sort_values(key, ignore_index=True)
    b = sk_w.sort_values(key, ignore_index=True)
    assert a.equals(b)


def test_cms_merge_equals_recompute(spark):
    from pyspark.sql import functions as F

    from numalogic_spark.operators.sketches import cms_sketch

    rng = np.random.default_rng(53)
    pdf = pd.DataFrame(
        {"grp": "g", "item": [f"t{int(i)}" for i in rng.integers(0, 500, 4000)],
         "half": rng.integers(0, 2, 4000)}
    )
    df = spark.createDataFrame(pdf)
    full = cms_sketch(df, "item", ["grp"]).toPandas()
    parts = [
        cms_sketch(df.filter(F.col("half") == h), "item", ["grp"])
        for h in (0, 1)
    ]
    merged = (
        parts[0].unionByName(parts[1])
        .groupBy("grp", "d", "col")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .toPandas()
    )
    key = ["grp", "d", "col"]
    assert full.sort_values(key, ignore_index=True).equals(
        merged.sort_values(key, ignore_index=True)
    )
