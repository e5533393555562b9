"""SAX symbolization, duplicate n-gram spans, and heavy hitters vs
brute-force numpy/python oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from numalogic_spark.operators.dedup import duplicate_ngram_spans, heavy_hitters_per_group
from numalogic_spark.operators.tsfeatures import _SAX_BREAKPOINTS, sax_symbols


def _series_frame(spark, n=320, n_src=2, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(n_src):
        x = np.round(rng.normal(20 + 5 * s, 4, n), 2)
        for i in range(n):
            rows.append((f"s{s}", i * 60, i, float(x[i])))
    pdf = pd.DataFrame(rows, columns=["source", "ts_s", "event_id", "value"])
    return spark.createDataFrame(pdf), pdf


def _sax_np(x, segment, alphabet):
    x = np.asarray(x, dtype=float)
    mu, sd = x.mean(), x.std()  # population std, the SAX convention
    bps = _SAX_BREAKPOINTS[alphabet]
    out = []
    for seg in range(int(np.ceil(len(x) / segment))):
        chunk = x[seg * segment : (seg + 1) * segment]
        paa = chunk.mean()
        z = (paa - mu) / sd if sd > 0 else 0.0
        z = np.floor(z * 1e6 + 0.5) / 1e6
        idx = sum(z >= b for b in bps)
        out.append((seg, len(chunk), "abcdefgh"[idx]))
    return out


def test_sax_matches_numpy(spark):
    df, pdf = _series_frame(spark)
    got = sax_symbols(df, segment=16, alphabet=4).toPandas()
    for s, grp in pdf.groupby("source"):
        exp = _sax_np(grp.sort_values("event_id")["value"].to_numpy(), 16, 4)
        g = got[got["source"] == s].sort_values("segment").reset_index(drop=True)
        assert len(g) == len(exp)
        for i, (seg, n_in, sym) in enumerate(exp):
            assert g.loc[i, "segment"] == seg
            assert g.loc[i, "n_in_segment"] == n_in
            assert g.loc[i, "symbol"] == sym


def test_sax_constant_series_middle_letter(spark):
    pdf = pd.DataFrame(
        {
            "source": ["c"] * 64,
            "ts_s": np.arange(64) * 60,
            "event_id": np.arange(64),
            "value": [7.5] * 64,
        }
    )
    out = sax_symbols(spark.createDataFrame(pdf), segment=16, alphabet=4).toPandas()
    # z = 0 everywhere; idx = (0 >= -0.674) + (0 >= 0) + (0 >= 0.674) = 2 -> 'c'
    assert set(out["symbol"]) == {"c"}
    assert (out["z"] == 0.0).all()


def test_sax_ragged_tail(spark):
    pdf = pd.DataFrame(
        {
            "source": ["r"] * 20,
            "ts_s": np.arange(20) * 60,
            "event_id": np.arange(20),
            "value": np.round(np.linspace(0, 10, 20), 2),
        }
    )
    out = (
        sax_symbols(spark.createDataFrame(pdf), segment=16, alphabet=4)
        .toPandas()
        .sort_values("segment")
    )
    assert out["n_in_segment"].tolist() == [16, 4]


def test_sax_rejects_unknown_alphabet(spark):
    df, _ = _series_frame(spark, n=32)
    with pytest.raises(ValueError):
        sax_symbols(df, alphabet=26)


def _doc_frame(spark, texts):
    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts, "source": "s0"}
    )
    return spark.createDataFrame(pdf)


def test_dup_ngram_spans_bruteforce(spark):
    shared = "one two three four five six seven eight"
    texts = [
        shared + " alpha beta",              # shares the 8-gram with doc 1
        "zzz " + shared,                      # ditto
        "totally different words here nothing repeats at all ok",
        "short doc",                          # < 8 words -> 0 grams
    ]
    out = (
        duplicate_ngram_spans(_doc_frame(spark, texts), n=8, min_docs=2)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    def grams(t):
        ws = t.lower().split()
        return [" ".join(ws[i : i + 8]) for i in range(len(ws) - 7)]

    all_grams = [grams(t) for t in texts]
    from collections import Counter

    docs_per_gram = Counter()
    for gs in all_grams:
        for g in set(gs):
            docs_per_gram[g] += 1
    for d, gs in enumerate(all_grams):
        exp_total = len(gs)
        exp_dup = sum(1 for g in gs if docs_per_gram[g] >= 2)
        assert out.loc[d, "n_grams"] == exp_total
        assert out.loc[d, "n_dup_grams"] == exp_dup
        if exp_total:
            assert out.loc[d, "dup_frac"] == pytest.approx(
                np.floor(exp_dup / exp_total * 1e6 + 0.5) / 1e6
            )
        else:
            assert out.loc[d, "dup_frac"] == 0.0


def test_dup_ngram_multiplicity_counted(spark):
    # the duplicated gram occurs TWICE in doc 0 -> both starts flagged
    g = "a b c d e f g h"
    texts = [g + " " + g, "x " + g]
    out = (
        duplicate_ngram_spans(_doc_frame(spark, texts), n=8, min_docs=2)
        .toPandas()
        .set_index("doc_id")
    )
    ws0 = texts[0].split()
    grams0 = [" ".join(ws0[i : i + 8]) for i in range(len(ws0) - 7)]
    exp0 = sum(1 for x in grams0 if x == g)
    assert exp0 == 2
    assert out.loc[0, "n_dup_grams"] >= exp0


def test_heavy_hitters_exact(spark):
    docs = _doc_frame(
        spark,
        ["apple apple banana cherry", "apple banana banana", "cherry date"],
    ).withColumn(
        "words", F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "")
    )
    out = (
        heavy_hitters_per_group(docs, group_col="source", tokens_col="words", k=2)
        .toPandas()
        .sort_values("rnk")
    )
    assert out["token"].tolist() == ["apple", "banana"]
    assert out["cnt"].tolist() == [3, 3]  # tie broken by token asc
    assert out["rnk"].tolist() == [1, 2]


def test_dup_ngram_hash_modes_agree(spark):
    """Production xxhash64 digests and oracle md5 digests must yield the
    same span counts (collisions aside, which are ~n²/2⁶⁵)."""
    shared = "one two three four five six seven eight"
    texts = [
        shared + " alpha beta",
        "zzz " + shared,
        "totally different words here nothing repeats at all ok",
        "short doc",
    ]
    md5 = (
        duplicate_ngram_spans(
            _doc_frame(spark, texts), n=8, min_docs=2, hash_mode="md5"
        )
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    xxh = (
        duplicate_ngram_spans(_doc_frame(spark, texts), n=8, min_docs=2)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(md5, xxh)


def test_dup_ngram_bad_hash_mode_raises(spark):
    with pytest.raises(ValueError):
        duplicate_ngram_spans(
            _doc_frame(spark, ["a b c"]), hash_mode="sha1"
        )
