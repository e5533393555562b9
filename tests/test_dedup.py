"""Dedup suite over a planted corpus: exact clusters, Jaccard oracle parity,
MinHash-LSH recall of planted near-dups, SimHash hamming pairs, embedding
cosine pairs vs numpy."""

import numpy as np
import pandas as pd
import pytest

from numalogic_spark.operators.dedup import (
    drop_exact_dups,
    embedding_near_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_pairs,
)

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "spark executes declarative dataframe plans with catalyst optimizing joins and scans",
    "tokenized training sequences roll up into minute hour and day retention tiers",
    "gorilla compression stores xor floats and delta encoded timestamps in blocks",
    "completely unrelated text about cooking pasta with garlic olive oil and basil",
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i, t in enumerate(BASE):
        rows.append({"doc_id": f"d{i:03d}_orig", "text": t, "grp": "g"})
        rows.append({"doc_id": f"d{i:03d}_copy", "text": t, "grp": "g"})  # exact dup
        near = t.replace("the", "a") if "the" in t else t + " extra"
        rows.append({"doc_id": f"d{i:03d}_near", "text": near, "grp": "g"})
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf), pdf


def test_exact_dedup(spark, corpus):
    df, pdf = corpus
    clusters = exact_dedup(df).toPandas()
    assert (clusters["cluster_size"] == 2).sum() == len(BASE)  # orig+copy pairs
    kept = drop_exact_dups(df).toPandas()
    assert len(kept) == len(pdf) - len(BASE)
    assert not kept["doc_id"].str.endswith("_orig").any()  # min doc_id ("_copy" < "_orig") wins


def test_jaccard_pairs_oracle(spark, corpus):
    df, pdf = corpus
    got = jaccard_pairs(df, block_cols=["grp"], threshold=0.0).toPandas()
    # python oracle
    sets = {r.doc_id: set(r.text.lower().split()) for r in pdf.itertuples()}
    ids = sorted(sets)
    exp = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                exp[(a, b)] = inter / len(sets[a] | sets[b])
    gotmap = {(r.id_a, r.id_b): r.jaccard for r in got.itertuples()}
    assert set(gotmap) == set(exp)
    for k in exp:
        np.testing.assert_allclose(gotmap[k], exp[k], rtol=1e-12)


def test_jaccard_prefix_filter_lossless_and_prunes(spark):
    """PPJoin prefix filtering must return EXACTLY the brute-force pairs
    (losslessness at the threshold) while generating far fewer candidates
    on a corpus with a hot shared token ('the' in every doc would otherwise
    be a quadratic join key)."""
    import random as _random

    rng = _random.Random(3)
    rows = []
    for i in range(120):
        # every doc shares the hot token; the rest is mostly distinct
        words = ["the"] + [f"w{i}_{j}" for j in range(12)]
        if i % 10 == 0:  # a few true near-dup pairs
            words = ["the"] + [f"dup{j}" for j in range(12)] + [f"w{i}_x"]
        rng.shuffle(words)
        rows.append({"doc_id": i, "text": " ".join(words)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    t = 0.5
    fast = jaccard_pairs(df, threshold=t, prefix_filter=True).toPandas()
    brute = jaccard_pairs(df, threshold=t, prefix_filter=False).toPandas()
    key = lambda p: {(int(a), int(b)) for a, b in zip(p["id_a"], p["id_b"])}  # noqa: E731
    assert key(fast) == key(brute) and len(fast) > 0
    jf = fast.set_index(["id_a", "id_b"])["jaccard"].sort_index()
    jb = brute.set_index(["id_a", "id_b"])["jaccard"].sort_index()
    np.testing.assert_allclose(jf.to_numpy(), jb.to_numpy(), rtol=1e-12)

    # candidate volume: full token join pairs every doc with every doc via
    # "the" (~n²/2); the DF-ordered prefix drops "the" from most prefixes
    from pyspark.sql import functions as F

    words = F.array_remove(F.array_distinct(F.split(F.lower(F.col("text")), r"\s+")), "")
    tok = df.select(F.col("doc_id").alias("id"), F.explode(words).alias("w"))
    full_cands = (
        tok.alias("a")
        .join(tok.alias("b"), (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id")))
        .select("a.id", "b.id").distinct().count()
    )
    assert full_cands >= 120 * 119 / 2 * 0.9  # hot token ≈ quadratic
    # prefix path's exact output (= true pairs) is tiny in comparison
    assert len(fast) <= 0.02 * full_cands


def test_minhash_lsh_recovers_planted(spark, corpus):
    df, _ = corpus
    pairs = minhash_lsh_pairs(df, threshold=0.8).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    # every exact-dup pair (shingle Jaccard 1.0) must be found
    for i in range(len(BASE)):
        assert (f"d{i:03d}_copy", f"d{i:03d}_orig") in found
    # verified threshold: no pair below 0.8 jaccard survives
    assert (pairs["jaccard"] >= 0.8).all()
    # unrelated docs never pair up
    assert not any(a[:4] != b[:4] for a, b in found)


def test_simhash_near_pairs(spark, corpus):
    df, _ = corpus
    pairs = simhash_near_pairs(df, max_hamming=3).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(len(BASE)):
        assert (f"d{i:03d}_copy", f"d{i:03d}_orig") in found  # hamming 0
    assert (pairs["hamming"] <= 3).all()


def test_simhash_planted_precision_recall(spark):
    """124-bit SimHash at hamming<=3 on a planted corpus: every duplicate
    and word-order-shuffled duplicate is recovered (simhash is bag-of-words
    → hamming 0), and NO pair crosses clusters or touches the unrelated
    docs (the round-1 64-bit/16-bit-chunk variant matched 45% of ALL pairs
    on the driver corpus — this gate keeps precision honest)."""
    import random as _random

    rng = _random.Random(9)
    rows = []
    n_clusters = 8
    for k in range(n_clusters):
        words = [f"c{k}word{j}" for j in range(120)]
        rows.append({"doc_id": f"k{k}_orig", "text": " ".join(words)})
        shuffled = words[:]
        rng.shuffle(shuffled)
        rows.append({"doc_id": f"k{k}_shuf", "text": " ".join(shuffled)})
    for i in range(40):
        rows.append(
            {"doc_id": f"u{i}", "text": " ".join(f"u{i}word{j}" for j in range(60))}
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = simhash_near_pairs(df, max_hamming=3).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    expected = {(f"k{k}_orig", f"k{k}_shuf") for k in range(n_clusters)}
    assert expected <= found  # recall 1.0 on order-shuffled duplicates
    # precision: nothing outside the planted clusters
    assert found == expected, f"spurious pairs: {found - expected}"


def test_near_dup_clusters_and_drop(spark):
    """Connected components over pairs: transitively-linked chains collapse
    to one cluster labeled by the min id; drop_near_dups keeps exactly one
    canonical doc per cluster plus all unpaired docs."""
    from numalogic_spark.operators.dedup import drop_near_dups, near_dup_clusters

    # chain 1-2-3-4 (diameter 3), pair 10-11, isolated edge-free docs 20, 21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = near_dup_clusters(pairs).toPandas().set_index("id")["cluster_id"].to_dict()
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 20, 21], "text": ["x"] * 8})
    )
    kept = sorted(drop_near_dups(docs, pairs).toPandas()["doc_id"].tolist())
    assert kept == [1, 10, 20, 21]
    # empty pair set → everything kept
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert near_dup_clusters(empty).count() == 0
    assert drop_near_dups(docs, empty).count() == 8


def test_near_dup_clusters_long_chain(spark):
    """Pointer jumping keeps rounds O(log diameter): a 60-link chain must
    converge within the default max_iters (plain propagation would need 60
    rounds and previously returned silently-split components)."""
    from numalogic_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(60)], "id_a long, id_b long")
    got = near_dup_clusters(pairs).toPandas()
    assert (got["cluster_id"] == 0).all() and len(got) == 61


def test_simhash_hamming_zero(spark, corpus):
    """max_hamming=0 (exact-signature duplicates) must work — regression:
    the chunk split divided by zero."""
    df, _ = corpus
    pairs = simhash_near_pairs(df, max_hamming=0).toPandas()
    found = {tuple(sorted((a, b))) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(len(BASE)):
        assert (f"d{i:03d}_copy", f"d{i:03d}_orig") in found
    assert (pairs["hamming"] == 0).all()


def test_simhash_banding_recall_complete(spark):
    """Pigeonhole guarantee: EVERY pair within hamming <= max_hamming of
    124-bit signatures must be produced by the banded pipeline — verified
    against a brute-force all-pairs hamming over the signatures themselves
    (exercises the uneven 31/31-bit chunk split too)."""
    import random as _random

    rng = _random.Random(17)
    vocab = [f"tok{j}" for j in range(40)]
    rows = []
    for i in range(60):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(5, 30))]
        rows.append({"doc_id": i, "text": " ".join(words)})
    df = spark.createDataFrame(pd.DataFrame(rows))
    from numalogic_spark.operators.dedup import simhash

    for mh in (1, 3):
        sigs = simhash(df).toPandas().set_index("id")
        brute = set()
        ids = sorted(sigs.index)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sigs.loc[ids[x]], sigs.loc[ids[y]]
                ham = bin(int(a.sim_lo) ^ int(b.sim_lo)).count("1") + bin(
                    int(a.sim_hi) ^ int(b.sim_hi)
                ).count("1")
                if ham <= mh:
                    brute.add((ids[x], ids[y]))
        got = simhash_near_pairs(df, max_hamming=mh).toPandas()
        found = {tuple(sorted((int(a), int(b)))) for a, b in zip(got["id_a"], got["id_b"])}
        assert found == brute, f"max_hamming={mh}: banded {found} != brute {brute}"


def test_embedding_near_pairs(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    vecs = np.vstack([base, base[:5] + rng.standard_normal((5, 16)).astype(np.float32) * 0.01])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(25, dtype=np.int64), "embedding": list(vecs), "label": 0}
    )
    df = spark.createDataFrame(pdf)
    got = embedding_near_pairs(df, threshold=0.99).toPandas()
    found = {tuple(sorted((int(a), int(b)))) for a, b in zip(got["id_a"], got["id_b"])}
    exp = {(i, 20 + i) for i in range(5)}  # each perturbed copy pairs its base
    assert found == exp
    # cosine values match numpy
    for _, r in got.iterrows():
        a, b = vecs[int(r.id_a)].astype(float), vecs[int(r.id_b)].astype(float)
        c = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        np.testing.assert_allclose(r.cos_sim, c, rtol=1e-9)


def test_minhash_kernel_equals_expression(spark, corpus):
    """The Arrow signature kernel must produce bit-identical signatures to
    the interpreted-HOF expression path (same Carter-Wegman arithmetic)."""
    from pyspark.sql import functions as F

    from numalogic_spark.operators.dedup import (
        char_shingle_codes,
        minhash_signature,
        minhash_signature_kernel,
    )

    df, _ = corpus
    base = df.select("doc_id", char_shingle_codes("text").alias("codes"))
    both = base.select(
        "doc_id",
        minhash_signature("codes", 60, 1).alias("e"),
        minhash_signature_kernel(60, 1)(F.col("codes")).alias("k"),
    )
    assert both.filter(F.col("e") != F.col("k")).count() == 0
    assert both.count() > 0


def test_shingle_kernel_equals_expression(spark, corpus):
    """The Arrow shingle-codes kernel must produce bit-identical code
    arrays (values AND first-occurrence order) to the interpreted-HOF
    expression path, including unicode, empty, null and whitespace-only
    texts, for both distinct modes."""
    from pyspark.sql import functions as F

    from numalogic_spark.operators.dedup import (
        char_shingle_codes,
        char_shingle_codes_kernel,
    )

    df, _ = corpus
    edge = spark.createDataFrame(
        [
            ("e1", ""),
            ("e2", None),
            ("e3", "ab"),
            ("e4", "café résumé 你好 \U0001F600"),
            ("e5", "ABC abc AbC"),
        ],
        "doc_id string, text string",
    )
    full = df.select("doc_id", "text").unionByName(edge)
    for dist in (True, False):
        both = full.select(
            "doc_id",
            char_shingle_codes("text", 3, distinct=dist).alias("e"),
            char_shingle_codes_kernel(3, distinct=dist)(
                F.lower(F.col("text"))
            ).alias("k"),
        )
        assert both.filter(~F.col("e").eqNullSafe(F.col("k"))).count() == 0
        assert both.count() > 0


def test_ngram_contamination(spark):
    """Decontamination: a test doc sharing a contiguous 5-gram with the
    train corpus scores its exact overlap fraction; disjoint docs score 0;
    short docs (< n words) score 0 with n_grams = 0."""
    from numalogic_spark.operators.dedup import ngram_contamination

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["t1", "t2"],
                "text": [
                    "alpha beta gamma delta epsilon zeta eta theta",
                    "one two three four five six",
                ],
            }
        )
    )
    test = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["c_full", "c_part", "c_none", "c_short"],
                "text": [
                    # identical to t1 → every 5-gram matches
                    "alpha beta gamma delta epsilon zeta eta theta",
                    # 8 words, shares exactly the first 5-gram window of t1
                    "alpha beta gamma delta epsilon QQ WW EE",
                    "totally different words that never overlap anything here",
                    "too few words",
                ],
            }
        )
    )
    got = (
        ngram_contamination(test, train, n=5)
        .toPandas()
        .set_index("doc_id")
        .to_dict("index")
    )
    assert got["c_full"]["contamination"] == 1.0 and got["c_full"]["n_grams"] == 4
    assert got["c_part"]["n_grams"] == 4 and got["c_part"]["n_matched"] == 1
    assert abs(got["c_part"]["contamination"] - 0.25) < 1e-12
    assert got["c_none"]["contamination"] == 0.0
    assert got["c_short"] == {"n_grams": 0, "n_matched": 0, "contamination": 0.0}


def test_simhash_kernel_equals_expression(spark, corpus):
    """The Arrow simhash kernel must produce bit-identical 124-bit
    signatures to the pure-expression path."""
    from numalogic_spark.operators.dedup import simhash, simhash_via_kernel

    df, _ = corpus
    e = simhash(df).toPandas().set_index("id").sort_index()
    k = simhash_via_kernel(df).toPandas().set_index("id").sort_index()
    assert (e["sim_lo"] == k["sim_lo"]).all()
    assert (e["sim_hi"] == k["sim_hi"]).all()
    assert (e["sim_lo"] != 0).any()


def test_minhash_kernel_null_and_empty_codes(spark):
    """NULL or empty codes arrays -> NULL signature (expression-path
    parity for NULL; never a neighbor's reduceat slot for empty)."""
    from pyspark.sql import functions as F

    from numalogic_spark.operators.dedup import minhash_signature_kernel

    df = spark.createDataFrame(
        [("a", [7, 11, 13]), ("b", None), ("c", []), ("d", [7, 11, 13])],
        "id string, codes array<long>",
    )
    out = {
        r["id"]: r["s"]
        for r in df.select("id", minhash_signature_kernel(8, 1)(F.col("codes")).alias("s")).collect()
    }
    assert out["b"] is None and out["c"] is None
    assert out["a"] is not None and out["a"] == out["d"]


def test_clusters_driver_and_iterative_paths_agree(spark):
    """The union-find fast path (small graphs) and the distributed
    label-propagation path must produce identical components — chain,
    triangle, and singletons-by-absence."""
    import pandas as pd

    from numalogic_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "id_a": ["a", "b", "x", "p", "q"],
                "id_b": ["b", "c", "y", "q", "r"],
            }
        )
    )  # chain a-b-c, pair x-y, chain p-q-r
    fast = near_dup_clusters(pairs).toPandas().sort_values("id", ignore_index=True)
    slow = near_dup_clusters(pairs, driver_threshold=0).toPandas().sort_values(
        "id", ignore_index=True
    )
    assert fast.equals(slow)
    got = fast.set_index("id")["cluster_id"].to_dict()
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p", "q": "p", "r": "p"}


def test_degenerate_docs_excluded_from_near_dup_pairs(spark):
    """Empty/whitespace/null texts must not pair with each other (they all
    collapse to one degenerate signature/bucket) — ADVICE round-2."""
    import pandas as pd

    from numalogic_spark.operators.dedup import minhash_lsh_pairs, simhash_near_pairs

    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(7)],
            "text": ["", "   ", None, "\t\n ", "real document body here words", "",
                     "\t\t"],  # tab-only pair with d3: trim() would leak these
        }
    )
    df = spark.createDataFrame(pdf, "doc_id string, text string")
    assert minhash_lsh_pairs(df, threshold=0.0).count() == 0
    assert simhash_near_pairs(df, max_hamming=8).count() == 0


def test_materialize_persist_mode(spark, corpus):
    """materialize='persist' must produce identical pairs lazily (no eager
    localCheckpoint job) and remain releasable by the caller."""
    from numalogic_spark.operators.dedup import minhash_lsh_pairs

    df, _ = corpus
    eager = minhash_lsh_pairs(df, threshold=0.8).toPandas()
    lazy = minhash_lsh_pairs(df, threshold=0.8, materialize="persist")
    got = lazy.toPandas()
    key = lambda p: sorted(map(tuple, p[["id_a", "id_b"]].to_numpy()))
    assert key(got) == key(eager)
    from numalogic_spark.operators.dedup import release_persisted

    assert release_persisted() == 3  # base + slim + candidate-pair frames
    assert release_persisted() == 0  # idempotent
    with pytest.raises(ValueError, match="materialize"):
        minhash_lsh_pairs(df, materialize="Persist")
