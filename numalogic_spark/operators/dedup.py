"""Deduplication suite for large-scale training-data pipelines.

Not present in the reference (numalogic processes metrics, not corpora) —
this is the training-data-pipeline capability layer required by the build
brief, implemented Spark-first:

- exact:      hash-groupBy on normalized text (one shuffle, partial agg)
- n-gram Jaccard: relational set-similarity with lossless PPJoin prefix
  filtering — join each doc's rarest-token prefix under a global DF order,
  verify exact Jaccard on full word sets; pure joins/aggs, no UDF
- MinHash+LSH: universal-hash permutations over int-encoded character
  shingles (JVM-side higher-order functions), banded signatures →
  candidate buckets → signature-estimate prefilter → exact-Jaccard verify
- SimHash:    124-bit signature (two 62-bit longs) from per-word character
  folds + bit-majority vote — all JVM expressions — with 31-bit chunk
  banding and popcount(xor) hamming verification
- embedding near-dup: cosine over `array<float>` with zip_with dot products

MinHash/SimHash/fingerprint share one portable modular-arithmetic hash
family, so the driver's DuckDB oracle replays every stage end-to-end.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from numalogic_spark.functions.exprs import (
    MERSENNE31,
    _word_char_fold,
    ensure_parallelism,
    let_bind,
)

# MinHash / SimHash / fingerprinting build on the portable hash family of
# functions/exprs.py (MERSENNE31, the char fold), so candidate generation
# stays replayable by the SQL oracle.
SHINGLE_BASE = 1_114_112  # > max Unicode code point → n-gram encoding is injective
BAND_MULT = 1_000_003  # band-hash fold multiplier (p * BAND_MULT < 2^63)


def _minhash_params(num_hashes: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations
    h_i(x) = (a_i·x + b_i) mod p. Python's Random is seed-stable across
    platforms, so the oracle SQL regenerates identical constants."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(MERSENNE31))
        for _ in range(num_hashes)
    ]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keeper id (min), cluster size.

    groupBy on md5(text) — map-side partial agg makes the hot path cheap
    even when one document dominates.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("cluster_size"))
    )


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep only the keeper row of each exact-duplicate cluster."""
    keep = exact_dedup(df, text_col, id_col).select(F.col("keeper_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# word n-gram Jaccard (relational, no UDF)
# --------------------------------------------------------------------------

def _word_set(text_col: str) -> Column:
    # array_remove '': leading/trailing whitespace otherwise yields an
    # empty-string token that becomes a hot shared join key across docs
    return F.array_remove(F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+")), "")


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    threshold: float = 0.0,
    prefix_filter: bool = True,
) -> DataFrame:
    """All (a, b) pairs with word-set Jaccard ≥ threshold, blocked by
    `block_cols` to bound the candidate space (classic blocking strategy —
    at 10^12 docs the blocks are the parallelism unit; AQE splits skewed
    blocks).

    With `prefix_filter` (default, requires threshold > 0) candidate
    generation joins only each doc's PREFIX of |w| − ⌈t·|w|⌉ + 1 rarest
    tokens under a global (document-frequency, token) order — the PPJoin
    prefix-filtering principle (Xiao et al., WWW'08): two sets with
    J ≥ t must share a token inside both prefixes, so the pruning is
    EXACTLY lossless while a hot shared token ("the") stops being a
    quadratic join key (it sorts last and falls out of most prefixes).
    Verification recomputes exact Jaccard from the full word sets.
    """
    block_cols = block_cols or []
    base = df.select(
        F.col(id_col).alias("id"), *block_cols, _word_set(text_col).alias("words")
    ).withColumn("n_words", F.size("words"))
    if prefix_filter and threshold > 0.0:
        tok_all = base.select("id", *block_cols, "n_words", F.explode("words").alias("w"))
        dfreq = tok_all.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
        ranked = tok_all.join(dfreq, "w").withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("_df").asc(), F.col("w").asc())
            ),
        )
        # -1e-9 guards the FP case t·n = k + ε (e.g. 0.2·15) where a spurious
        # ceil would shorten the prefix and silently break losslessness; an
        # over-long prefix only costs extra (verified-away) candidates.
        prefix_len = (
            F.col("n_words") - F.ceil(F.lit(threshold) * F.col("n_words") - F.lit(1e-9)) + 1
        )
        tok = ranked.filter(F.col("_rk") <= prefix_len).select("id", *block_cols, "w")
        a, b = tok.alias("a"), tok.alias("b")
        cond = (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id"))
        for c in block_cols:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        cand = (
            a.join(b, cond)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        words = base.select("id", "words")
        pairs = (
            cand.join(words.withColumnRenamed("id", "id_a").withColumnRenamed("words", "w_a"), "id_a")
            .join(words.withColumnRenamed("id", "id_b").withColumnRenamed("words", "w_b"), "id_b")
        )
        inter = F.size(F.array_intersect("w_a", "w_b"))
        jac = pairs.select(
            "id_a", "id_b", inter.alias("inter"),
            (inter / (F.size("w_a") + F.size("w_b") - inter)).alias("jaccard"),
        )
        return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "inter", "jaccard")
    tok = base.select("id", *block_cols, "n_words", F.explode("words").alias("w"))
    a, b = tok.alias("a"), tok.alias("b")
    cond = (F.col("a.w") == F.col("b.w")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_words").alias("na"),
            F.col("b.n_words").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "inter", "jaccard")


# --------------------------------------------------------------------------
# MinHash + LSH over character shingles
# --------------------------------------------------------------------------

def char_shingle_codes(text_col: str | Column, n: int = 3, distinct: bool = True) -> Column:
    """Character n-grams, injectively encoded as longs (distinct by
    default; ``distinct=False`` keeps multiplicity — used by the entropy
    and language-ID consumers).

    code(s) = Σ codepoint(s[j])·SHINGLE_BASE^(n-1-j): an EXACT integer id of
    the n-gram (no hash collisions) — exact for FULL-LENGTH shingles; the
    trailing boundary shingles of a text shorter than its window are
    NUL-padded, so a boundary shingle shares its code with the same prefix
    followed by real U+0000 codepoints (harmless for the similarity
    consumers here, which compare whole code sets). Cheaper than carrying
    n-char strings through joins, and recomputable in the DuckDB oracle.
    Needs SHINGLE_BASE^n < 2^63 → n ≤ 3 at full-Unicode base.

    The text is split into a codepoint array ONCE (let-bound), then each
    shingle reads it with O(1) element lookups — substr(t, i, 1) seeks from
    the string start per call (UTF-8), which made shingling O(len²) and
    dominated the whole pipeline. Out-of-range lookups (texts shorter than
    n) coalesce to 0, matching ascii('') = 0 of the substr formulation."""
    if SHINGLE_BASE**n >= 2**63:
        raise ValueError(f"shingle n={n} overflows the injective long encoding")
    t = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    chars = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))

    def codes(arr: Column) -> Column:
        def enc(i: Column) -> Column:
            c = F.coalesce(F.try_element_at(arr, i), F.lit(0).cast("long"))
            for j in range(1, n):
                c = c * F.lit(SHINGLE_BASE) + F.coalesce(
                    F.try_element_at(arr, i + F.lit(j)), F.lit(0).cast("long")
                )
            return c

        out = F.transform(idx, enc)
        return F.array_distinct(out) if distinct else out

    return let_bind(chars, codes)


def char_shingle_codes_kernel(n: int = 3, distinct: bool = True):
    """Arrow-vectorized twin of char_shingle_codes: same injective long
    encoding, same values in the same order (first-occurrence distinct),
    computed as one batched codepoint-matrix pass instead of per-char
    interpreted higher-order functions (split + ascii + element_at per
    shingle position never enter codegen — the same JIT-hostility that
    made the minhash signature kernel the default; the shingling was the
    remaining interpreted stage of the LSH pipeline).

    The input column must already be LOWERCASED JVM-side (F.lower) so
    case folding cannot diverge between JVM and Python Unicode tables.
    Returns a pandas_udf: string → array<long>; NULL text → [0], exactly
    like the expression path (greatest(length(NULL)-2, 1) is 1, and every
    out-of-range lookup coalesces to 0)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = SHINGLE_BASE

    def codes(texts):
        arr = ["" if t is None else t for t in texts.to_numpy()]
        result: list = [None] * len(arr)
        live = list(range(len(arr)))
        if live:
            vals = [arr[i] for i in live]
            # fixed-width UCS4 view: one codepoint per cell, zero-padded —
            # the padding IS the try_element_at-out-of-range → 0 semantics
            U = np.array(vals, dtype="U")
            width = U.dtype.itemsize // 4
            m = len(vals)
            if width == 0:  # all-empty batch: every text encodes to [0]
                for i in live:
                    result[i] = np.zeros(1, dtype=np.int64)
            else:
                M = np.concatenate(
                    [
                        U.view(np.uint32).reshape(m, width).astype(np.int64),
                        np.zeros((m, n - 1), dtype=np.int64),
                    ],
                    axis=1,
                )
                C = M[:, : width]
                for j in range(1, n):
                    C = C * B + M[:, j : width + j]
                lens = np.fromiter((len(t) for t in vals), dtype=np.int64, count=m)
                nidx = np.maximum(lens - (n - 1), 1)
                for row, i, k in zip(C, live, nidx):
                    r = row[:k]
                    if distinct:
                        _, first = np.unique(r, return_index=True)
                        r = r[np.sort(first)]
                    result[i] = r
        return pd.Series(result, dtype=object)

    codes.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(codes, "array<long>")


def minhash_signature(codes_col: Column | str, num_hashes: int = 64, seed: int = 1) -> Column:
    """k-permutation MinHash over int-encoded shingles:
    sig[i] = min over shingles of (a_i·(code mod p) + b_i) mod p.

    One mult+add+mod per (shingle, permutation) — arithmetic permutations
    are ~an order of magnitude cheaper than re-hashing per permutation and
    are reproducible in any SQL engine (universal hashing: Carter-Wegman).

    The (a, b) pairs travel as ONE array literal and the reduced-code array
    is let-bound, so the shingle encoding is evaluated exactly once per row
    — spelling the k permutations as k separate expressions would inline
    (and recompute) the shingling k times after projection collapse."""
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    params = F.lit([[a, b] for a, b in _minhash_params(num_hashes, seed)])
    return let_bind(
        F.transform(c, lambda x: x % F.lit(MERSENNE31)),
        lambda h: F.transform(
            params,
            lambda ab: F.array_min(
                F.transform(
                    h,
                    lambda x: (F.element_at(ab, 1) * x + F.element_at(ab, 2))
                    % F.lit(MERSENNE31),
                )
            ),
        ),
    )


def minhash_signature_kernel(num_hashes: int = 64, seed: int = 1):
    """Arrow-vectorized twin of minhash_signature: same Carter-Wegman
    permutations, same values bit-for-bit (int64 modular arithmetic;
    a·x < 2^62 so no overflow), computed as one flattened numpy pass with
    ``np.minimum.reduceat`` per document instead of k interpreted
    higher-order-function array passes.

    Catalyst HOFs (transform/aggregate/array_min) run INTERPRETED — they
    never enter whole-stage codegen — which makes the pure-expression
    signature the hot spot of the LSH pipeline (~5 s warm at 5k docs / 60
    perms). The kernel does the identical arithmetic vectorized (~10×).
    Returns a pandas_udf: array<long> codes → array<long> signature."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    params = np.array(_minhash_params(num_hashes, seed), dtype=np.int64)
    A, B = params[:, 0], params[:, 1]

    def sig(codes):
        # NULL codes (null text) -> NULL signature, matching the expression
        # path; empty arrays (never produced by char_shingle_codes, which
        # emits >= 1 code, but this kernel is public API) -> NULL too, so a
        # zero-length segment can never make reduceat read a neighbor's slot
        arrs = [None if a is None else np.asarray(a, dtype=np.int64) for a in codes]
        live = [a is not None and len(a) > 0 for a in arrs]
        kept = [a for a, ok in zip(arrs, live) if ok]
        result: list = [None] * len(arrs)
        if kept:
            lens = np.fromiter((len(a) for a in kept), dtype=np.int64, count=len(kept))
            flat = np.concatenate(kept) % MERSENNE31
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            out = np.empty((len(kept), len(A)), dtype=np.int64)
            for i in range(len(A)):
                out[:, i] = np.minimum.reduceat((A[i] * flat + B[i]) % MERSENNE31, starts)
            for row, j in zip(out, (k for k, ok in enumerate(live) if ok)):
                result[j] = row
        return pd.Series(result, dtype=object)

    # `from __future__ import annotations` stringifies hints, which pyspark
    # cannot resolve here — set the pandas eval-type annotations explicitly
    sig.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "array<long>")


def band_structs_expr(
    sig_col: Column | str, bands: int, rows: int, include_sig: bool = False
) -> Column:
    """All band buckets of a signature as array<struct<band, bh[, sig]>>:
    bh = fold of the band's slice, acc = (acc·BAND_MULT + sig[j]) mod p,
    seeded with the band index so identical slices in different bands can't
    collide across bands. The signature is let-bound — computed once, not
    once per band; with `include_sig` it rides inside each struct so the
    exploded band rows carry it into the candidate join (for the
    signature-estimated Jaccard prefilter) without recomputation."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col

    def per_band(s: Column):
        def one(bi: Column) -> Column:
            acc = bi.cast("long")
            for ri in range(rows):
                acc = (
                    acc * F.lit(BAND_MULT)
                    + F.element_at(s, (bi * rows + ri + 1).cast("int"))
                ) % F.lit(MERSENNE31)
            fields = [bi.cast("int").alias("band"), acc.alias("bh")]
            if include_sig:
                fields.append(s.alias("sig"))
            return F.struct(*fields)

        return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), one)

    return let_bind(sig, per_band)


def sig_est_jaccard(sig_a: Column | str, sig_b: Column | str, num_hashes: int) -> Column:
    """Unbiased MinHash Jaccard estimate: fraction of agreeing signature
    components (E[sig_a[i] = sig_b[i]] = J).

    zip_with keeps this a single array pass; spelling it as 64 explicit
    element_at comparisons was measured 7× SLOWER (the when-chain evaluates
    boxed per-branch while the HOF loop stays primitive)."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)) / F.lit(
        float(num_hashes)
    )


_PERSISTED: list[DataFrame] = []


def release_persisted() -> int:
    """Unpersist every frame the pair generators cached under
    ``materialize="persist"`` (they are internal — the caller never holds a
    handle to them) and return how many were released. Narrower than
    ``spark.catalog.clearCache()``, which would evict unrelated caches."""
    n = 0
    while _PERSISTED:  # pop-as-you-go: one failed unpersist (e.g. stopped
        df = _PERSISTED.pop()  # context) must not strand the rest in the registry
        df.unpersist()
        n += 1
    return n


def _materialize(df: DataFrame, mode) -> DataFrame:
    """Cut a diamond DAG once, by caller-chosen mode:

    - ``True`` (default): ``localCheckpoint`` — EAGER (runs a Spark job at
      plan-construction time) and NOT fault-tolerant: checkpointed blocks
      live only on their executors, so an executor loss fails the job
      instead of recomputing. Right for single-JVM/local runs.
    - ``"persist"``: lazy ``persist(MEMORY_AND_DISK)`` — fault-tolerant
      (lineage retained, lost blocks recompute) and the right choice on a
      real cluster. The persisted frames are pipeline-internal, so they
      are registered module-side; call ``release_persisted()`` when the
      returned pairs frame has been consumed.
    - ``False``: no materialization — fully lazy, subtree re-evaluated per
      join side (~4×).

    Any other value raises — a typo like ``"Persist"`` must not silently
    flip the caller to the non-fault-tolerant eager path.
    """
    if mode == "persist":
        df = df.persist()
        _PERSISTED.append(df)
        return df
    if mode is True:
        return df.localCheckpoint()
    if mode is False or mode is None:
        return df
    raise ValueError(f"materialize must be True, False or 'persist', got {mode!r}")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 60,
    bands: int = 12,
    threshold: float = 0.8,
    seed: int = 1,
    est_margin: float | None = 0.1,
    materialize: bool | str = True,
    use_kernel: bool | None = None,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH banding proposes candidates, a signature-
    estimated Jaccard prefilter (est ≥ threshold − est_margin) culls them
    INSIDE the band-join stage, and exact shingle Jaccard verifies the
    survivors. bands=12, rows=5 → P(candidate) = 1-(1-J^5)^12: 99.2% at
    J=0.8, 100% at J≥0.9, but only 32% at J=0.5 — the steeper s-curve
    (vs 16×4's 64% at J=0.5) is the main defense against candidate blowup
    on template-heavy corpora where the J≈0.5-0.7 pair mass is quadratic.

    Scale shape: on template-heavy corpora the band join emits O(n²·mass)
    mid-similarity candidates; evaluating the estimate as part of the join
    output (codegen pipeline, never materialized/shuffled) means only the
    margin survives to the exact-verify joins. With the default margin the
    estimate misses a true threshold-boundary pair w.p. ≈ Φ(-margin/σ),
    σ = sqrt(t(1-t)/num_hashes) ≈ 0.05 — comparable to the banding miss
    rate itself.

    End-to-end DuckDB-verifiable: shingle codes, permutations, band hashes,
    estimate and verification are all modular arithmetic (see
    __spark_entry__._minhash_sql)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of bands ({bands})"
        )
    rows = num_hashes // bands
    # Degenerate-doc guard: empty/whitespace/null texts all shingle to the
    # same padded code, land in one LSH bucket and pair QUADRATICALLY as
    # fake jaccard matches — drop them before signature generation (run a
    # quality filter first if they should be deduped some other way).
    # rlike('\S'), not trim() (which only strips spaces — tab/newline-only
    # corpora would still blow up) and not a regexp_replace-then-length
    # (which allocates a rewritten string per doc): the rlike predicate
    # short-circuits at the first non-whitespace char. Same truth value as
    # the oracle's regexp_replace form; consistent with simhash's word guard.
    # Whitespace-class caveat: Java's \s includes \x0B (vertical tab), RE2's
    # (DuckDB) does not — a doc made ONLY of \x0B would be dropped here but
    # kept by the oracle. The downstream word/shingle splits share the exact
    # same divergence, so an explicit char class in the guard alone would not
    # close it; instead the engine assumes ASCII-space/tab/newline whitespace
    # (true of the test corpora and of normalize_text output, which strips
    # control chars).
    nonempty = df.filter(F.col(text_col).rlike(r"\S"))
    if use_kernel is None:
        use_kernel = True
    # shingle encoding stays the JVM expression: an Arrow kernel twin
    # (char_shingle_codes_kernel) was built and measured bit-identical,
    # but end-to-end it is parity — the codes ride a localCheckpoint, so
    # the expression runs once and the kernel's Arrow round-trip of the
    # ~40 MB code arrays costs what the interpreted HOFs cost.
    base = ensure_parallelism(nonempty).select(
        F.col(id_col).alias("id"), char_shingle_codes(text_col, shingle_n).alias("codes")
    )
    # The DAG is a diamond: base feeds the band self-join (both sides) AND
    # both verification joins — Spark does not dedup identical subtrees
    # across join sides, so without materialization the shingle encoding
    # runs 4×. Measured ~2.5× cold / 1.4× warm. See _materialize for the
    # laziness / fault-tolerance tradeoff between the modes.
    base = _materialize(base, materialize)
    # Candidate generation: the band self-join carries (id, band hash, sig)
    # — signatures ride along (~num_hashes longs) so the estimate filter
    # runs inline; the (much larger) shingle arrays never travel through
    # the n² join. Dedup the candidate id-pairs BEFORE the exact-Jaccard
    # verification, then join the int-coded shingle sets back once per pair
    # side (long-array intersection, never strings). (No persist: a cached
    # handle would leak for the application lifetime with no way for
    # callers to release it.)
    # signature path (identical values either way — tested bit-for-bit):
    # Default to the Arrow kernel: the interpreted-HOF signature (HOFs
    # never enter whole-stage codegen) is JIT-BIMODAL — per JVM, HotSpot
    # either compiles the interpreted eval chain well (~0.7 s at 5k docs /
    # k=60) or locks a polluted profile for the session's lifetime (~5 s,
    # sticky across reps; caught via per-stage timing over 6 fresh JVMs —
    # 1 sticky — and in 2 of 3 full bench runs). The numpy kernel does the
    # identical arithmetic deterministically (~1.9 s warm end-to-end in
    # every probed session) at the cost of one Arrow round-trip; pass
    # use_kernel=False to force the expression path (bit-identical values,
    # avoids Python workers entirely — right for tiny ad-hoc calls).
    if use_kernel:
        sig_col = minhash_signature_kernel(num_hashes, seed)(F.col("codes"))
    else:
        sig_col = minhash_signature("codes", num_hashes, seed)
    slim = base.select(
        "id",
        F.explode(
            band_structs_expr(sig_col, bands, rows, include_sig=True)
        ).alias("bb"),
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"),
        F.col("bb.sig").alias("sig"),
    )
    slim = _materialize(slim, materialize)  # read by BOTH join sides
    a, b = slim.alias("a"), slim.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id"))
    )
    if est_margin is not None:
        est_floor = max(threshold - est_margin, 0.0)
        cond = cond & (
            sig_est_jaccard(F.col("a.sig"), F.col("b.sig"), num_hashes) >= F.lit(est_floor)
        )
    cand = (
        a.join(b, cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Materialize the deduped candidate pairs: they feed BOTH verify joins
    # (another diamond), and truncating here keeps the expensive band join
    # from re-running per consumer.
    cand = _materialize(cand, materialize)
    # Verify-join strategy: a checkpointed/persisted frame surfaces NO size
    # stats to the planner (LogicalRDD defaults to "huge"), so neither the
    # static planner nor AQE will broadcast the candidate table even when
    # it is a few MB — both verify joins fall back to shuffling the WIDE
    # shingle-code arrays (measured 3× slower at sf0.1). Replicate AQE's
    # decision where AQE is blind: when the pairs are already materialized,
    # count them (cheap — blocks are cached) and broadcast iff the table is
    # bounded; a quadratic-blowup corpus exceeds the cap and falls back to
    # the shuffle join instead of OOMing the driver. Explicit True/False
    # overrides the heuristic; lazy modes ("persist"/False must not run
    # jobs at call time) never broadcast blind.
    if broadcast_verify is None:
        broadcast_verify = materialize is True and cand.count() <= 5_000_000
    cjoin = F.broadcast(cand) if broadcast_verify else cand
    codes = base
    pairs = (
        cjoin.join(
            codes.withColumnRenamed("id", "id_a").withColumnRenamed("codes", "c_a"), "id_a"
        ).join(
            codes.withColumnRenamed("id", "id_b").withColumnRenamed("codes", "c_b"), "id_b"
        )
    )
    inter = F.size(F.array_intersect("c_a", "c_b"))
    union = F.size("c_a") + F.size("c_b") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def word_ngram_hashes(text_col: str | Column, n: int = 13, mult: int = 131) -> Column:
    """Word-level n-gram hashes as array<long> (empty when the doc has
    fewer than n words): each word reduces to a polynomial char fold mod p,
    each n-gram to a BAND_MULT-fold of its n word hashes mod p — the same
    portable modular arithmetic as the rest of the dedup family, so a SQL
    oracle replays it exactly."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.array_remove(F.split(F.lower(t), r"\s+"), "")
    hashes = F.transform(words, lambda w: _word_char_fold(w, mult))

    def grams(hs: Column) -> Column:
        def enc(i: Column) -> Column:
            acc = F.element_at(hs, i.cast("int"))
            for j in range(1, n):
                acc = (acc * F.lit(BAND_MULT) + F.element_at(hs, (i + j).cast("int"))) % F.lit(
                    MERSENNE31
                )
            return acc

        return F.when(
            F.size(hs) >= n,
            F.transform(F.sequence(F.lit(1), F.greatest(F.size(hs) - (n - 1), F.lit(1))), enc),
        ).otherwise(F.array().cast("array<long>"))

    return let_bind(hashes, grams)


def ngram_contamination(
    test_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Train/test overlap detection (decontamination, GPT-3 style): for
    each TEST document, the fraction of its distinct word n-grams that
    appear anywhere in the TRAIN corpus.

    Returns (doc_id, n_grams, n_matched, contamination). Docs with fewer
    than n words have n_grams = 0 and contamination = 0.0.

    Scale shape: one distinct over the train corpus' exploded gram hashes
    (map-side partial agg — template-heavy corpora collapse early), one
    left-semi join on the gram hash, one count per test doc. The join key
    is a uniform 31-bit hash, so no skew; at 100 TB the train gram set is
    the big side and Spark's shuffle join handles it — swap in a bloom
    filter (novelty_filter) when an approximate pre-screen is enough."""
    test_grams = test_df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.array_distinct(word_ngram_hashes(text_col, n))).alias("g"),
    )
    train_grams = (
        train_df.select(F.explode(word_ngram_hashes(text_col, n)).alias("g")).distinct()
    )
    per_doc = test_grams.groupBy("id").agg(
        F.count("g").alias("n_grams"),  # count(col) skips the explode_outer NULL
    )
    matched = (
        test_grams.join(train_grams, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        per_doc.join(matched, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.when(F.col("n_grams") > 0, F.coalesce("n_matched", F.lit(0)) / F.col("n_grams"))
            .otherwise(F.lit(0.0))
            .alias("contamination"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

# SimHash constants: two seeded (a, b, c) triples per signature word define
# g_j(w) = (a_j·h1(w) + b_j·h2(w) + c_j) mod p, where h1/h2 are two
# independent character folds of the word; each signature long packs two
# 31-bit g values (bits 0..61) so a 124-bit signature lives in two BIGINTs.
SIMHASH_SEED = 7
_CHAR_MULT_1, _CHAR_MULT_2 = 131, 137
_PACK = 1 << 31


def _simhash_params(seed: int = SIMHASH_SEED) -> list[tuple[int, int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(1, MERSENNE31), rng.randrange(MERSENNE31))
        for _ in range(4)
    ]


def simhash_word_packs(text_col: str, seed: int = SIMHASH_SEED) -> Column:
    """Per-word packed contributions as array<struct<lo, hi>>: four
    universal hashes of the word's two character folds, packed two per
    long (62 meaningful bits each)."""
    words = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    (a1, b1, c1), (a2, b2, c2), (a3, b3, c3), (a4, b4, c4) = _simhash_params(seed)

    def pack(w: Column) -> Column:
        return let_bind(
            F.struct(
                _word_char_fold(w, _CHAR_MULT_1).alias("h1"),
                _word_char_fold(w, _CHAR_MULT_2).alias("h2"),
            ),
            # each product is reduced mod p BEFORE the sum: a·h1 + b·h2 with
            # a,b,h < 2^31 can reach 2^63 and wrap negative as a raw long
            lambda hs: F.struct(
                (
                    ((F.lit(a1) * hs["h1"]) % F.lit(MERSENNE31)
                     + (F.lit(b1) * hs["h2"]) % F.lit(MERSENNE31)
                     + F.lit(c1)) % F.lit(MERSENNE31)
                    + (((F.lit(a2) * hs["h1"]) % F.lit(MERSENNE31)
                        + (F.lit(b2) * hs["h2"]) % F.lit(MERSENNE31)
                        + F.lit(c2)) % F.lit(MERSENNE31))
                    * F.lit(_PACK)
                ).alias("lo"),
                (
                    ((F.lit(a3) * hs["h1"]) % F.lit(MERSENNE31)
                     + (F.lit(b3) * hs["h2"]) % F.lit(MERSENNE31)
                     + F.lit(c3)) % F.lit(MERSENNE31)
                    + (((F.lit(a4) * hs["h1"]) % F.lit(MERSENNE31)
                        + (F.lit(b4) * hs["h2"]) % F.lit(MERSENNE31)
                        + F.lit(c4)) % F.lit(MERSENNE31))
                    * F.lit(_PACK)
                ).alias("hi"),
            ),
        )

    return F.transform(words, pack)


def _majority_sig(arr: Column, n: Column) -> Column:
    """62-bit majority signature of an array of packed word hashes:
    one aggregate pass accumulates per-bit one-counts (static shifts — no
    data-dependent shift exists as an expression), then bit b is set iff
    2·ones_b > n. Pure JVM expressions: no Python anywhere, so the
    signature can sit under joins/filters without UDF-extraction limits."""
    counts = F.aggregate(
        arr,
        F.array_repeat(F.lit(0).cast("long"), 62),
        lambda acc, v: F.zip_with(
            acc,
            F.array(*[F.shiftright(v, b).bitwiseAND(F.lit(1)) for b in range(62)]),
            lambda x, y: x + y,
        ),
    )

    def build(cs: Column) -> Column:
        sig = F.lit(0).cast("long")
        for b in range(62):
            sig = sig + F.when(
                F.lit(2) * F.element_at(cs, b + 1) > n, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return sig

    return let_bind(counts, build)


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = SIMHASH_SEED
) -> DataFrame:
    """124-bit SimHash per doc: (id, sim_lo, sim_hi). Entirely JVM-side
    portable arithmetic (char folds → universal hashes → bit-majority), so
    the DuckDB oracle replays it bit for bit and no Python touches the
    scan path."""
    packs = simhash_word_packs(text_col, seed)
    sig = let_bind(
        packs,
        lambda pk: let_bind(
            F.size(pk),
            lambda n: F.struct(
                _majority_sig(F.transform(pk, lambda s: s["lo"]), n).alias("lo"),
                _majority_sig(F.transform(pk, lambda s: s["hi"]), n).alias("hi"),
            ),
        ),
    )
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), sig.alias("_sig"))
        .select("id", F.col("_sig.lo").alias("sim_lo"), F.col("_sig.hi").alias("sim_hi"))
    )


def simhash_kernel(seed: int = SIMHASH_SEED):
    """Arrow-vectorized twin of the simhash signature: identical values
    bit-for-bit (same char folds, universal hashes, packing, bit-majority)
    computed in numpy instead of interpreted Catalyst HOFs.

    The char folds vectorize through numpy's fixed-width unicode view: a
    batch's words become a (n_words, max_len) uint32 codepoint matrix in
    one allocation, the fold walks max_len positions (a ~15-step python
    loop over fully vectorized updates masked by word length), and the
    per-doc bit majority is an ``add.reduceat`` over word segments — the
    same shape as minhash_signature_kernel. Use when per-doc word counts
    or batch sizes outgrow interpreted lambdas; the expression path stays
    the default (oracle-replayable, no Arrow round-trip).

    Returns a pandas_udf: array<string> words → struct<lo:long, hi:long>."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    params = _simhash_params(seed)
    P = MERSENNE31

    def sig(words):
        n_docs = len(words)
        if n_docs == 0:
            return pd.DataFrame({"lo": pd.Series([], dtype="int64"),
                                 "hi": pd.Series([], dtype="int64")})
        docs = [list(w) if w is not None else [] for w in words]
        lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=n_docs)
        flat_words = [w for d in docs for w in d]
        lo = np.zeros(n_docs, dtype=np.int64)
        hi = np.zeros(n_docs, dtype=np.int64)
        if flat_words:
            u = np.array(flat_words, dtype="U")
            max_len = u.dtype.itemsize // 4
            cp = u.view(np.uint32).reshape(len(flat_words), max_len).astype(np.int64)
            wl = np.char.str_len(u)
            h1 = np.zeros(len(flat_words), dtype=np.int64)
            h2 = np.zeros(len(flat_words), dtype=np.int64)
            for k in range(max_len):
                live = k < wl
                c = cp[:, k]
                h1 = np.where(live, (h1 * _CHAR_MULT_1 + c) % P, h1)
                h2 = np.where(live, (h2 * _CHAR_MULT_2 + c) % P, h2)
            g = [((a * h1) % P + (b * h2) % P + c) % P for a, b, c in params]
            packed_lo = g[0] + g[1] * _PACK
            packed_hi = g[2] + g[3] * _PACK
            nz = lens > 0
            starts = (np.cumsum(lens) - lens)[nz]
            for packed, out in ((packed_lo, lo), (packed_hi, hi)):
                word_bits = ((packed[:, None] >> np.arange(62)) & 1).astype(np.int64)
                ones = np.add.reduceat(word_bits, starts, axis=0)
                maj = (2 * ones > lens[nz, None]).astype(np.int64)
                out[nz] = (maj << np.arange(62)).sum(axis=1)
        return pd.DataFrame({"lo": lo, "hi": hi})

    sig.__annotations__ = {"words": pd.Series, "return": pd.DataFrame}
    return pandas_udf(sig, "struct<lo: long, hi: long>")


def simhash_via_kernel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = SIMHASH_SEED
) -> DataFrame:
    """simhash() computed through the Arrow kernel — same output schema and
    identical signatures (asserted in tests)."""
    words = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    return (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("id"), simhash_kernel(seed)(words).alias("_sig"))
        .select("id", F.col("_sig.lo").alias("sim_lo"), F.col("_sig.hi").alias("sim_hi"))
    )


def _chunk_exprs(col_name: str, word_bits: int, n_chunks: int) -> list[Column]:
    """Split one signature long's low `word_bits` bits into n_chunks values."""
    if n_chunks <= 0:  # max_hamming=0 → a single chunk lives on sim_lo only
        return []
    out = []
    base = word_bits // n_chunks
    off = 0
    for ci in range(n_chunks):
        width = base + (word_bits - base * n_chunks if ci == n_chunks - 1 else 0)
        mask = (1 << width) - 1
        out.append(F.shiftright(F.col(col_name), off).bitwiseAND(F.lit(mask)))
        off += width
    return out


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    materialize: bool | str = True,
    use_kernel: bool = True,
) -> DataFrame:
    """Near-dup pairs by 124-bit SimHash: band on (max_hamming+1) chunks —
    a pair within hamming ≤ max_hamming must agree on ≥1 chunk
    (pigeonhole), so candidate generation is recall-complete for the
    requested radius — then verify hamming = Σ bit_count(xor) ≤ max_hamming
    JVM-side.

    At the default radius the chunks are 31 bits wide (2^31 distinct bucket
    values per chunk), so candidate generation stays sub-quadratic far past
    10^9 docs — the round-1 64-bit/16-bit-chunk variant capped at 65536
    buckets per chunk and went quadratic around 10^6."""
    n_chunks = max_hamming + 1
    per_long = (n_chunks + 1) // 2
    if 62 // per_long < 4:
        raise ValueError("max_hamming too large: chunks need >= 4 bits")
    # Degenerate-doc guard: zero-word docs all collapse to signature (0,0)
    # and would pair quadratically as hamming-0 "near-dups" of each other.
    # rlike('\S') — same truth value as "splits to >= 1 word" (a doc has a
    # word iff it has a non-whitespace char) but non-allocating: the earlier
    # split+array_remove form materialized a word array per doc just to test
    # emptiness, a measurable cost on a 100 TB corpus. See the whitespace
    # caveat below: Java \s vs the oracle's RE2 \s differ only on \x0B.
    df = df.filter(F.col(text_col).rlike(r"\S"))
    # signature: Arrow kernel by default — bit-identical to the expression
    # path (tested) and ~10× faster; unlike MinHash the signature IS the
    # dominant stage here (per-word interpreted folds), so the kernel wins
    # even at small corpora. The expression path remains for Arrow-less
    # environments and as the oracle-shaped reference.
    sh = (simhash_via_kernel if use_kernel else simhash)(df, text_col, id_col)
    # same diamond as MinHash: sh feeds the chunk self-join (both sides)
    # and both hamming-verify joins — materialize the tiny (id, 2×long)
    # signature table once (see _materialize for the mode tradeoffs)
    sh = _materialize(sh, materialize)
    chunk_vals = _chunk_exprs("sim_lo", 62, per_long) + _chunk_exprs("sim_hi", 62, n_chunks - per_long)
    # At max_hamming=0 the single 62-bit chunk on sim_lo is not a complete
    # key for 124-bit equality, so verification below is still required.
    # The self-join carries only (id, chunk, chunk-value): hamming is
    # verified after the slim candidate dedup by joining the small
    # (id, sig) frame back per side — carrying both signature longs through
    # the n² join would only inflate the shuffle.
    chunks = sh.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("chunk"), cv.alias("cv"))
                    for k, cv in enumerate(chunk_vals)
                ]
            )
        ).alias("c"),
    ).select("id", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sim_lo").alias("lo_a"),
                      F.col("sim_hi").alias("hi_a")),
            "id_a",
        ).join(
            sh.select(F.col("id").alias("id_b"), F.col("sim_lo").alias("lo_b"),
                      F.col("sim_hi").alias("hi_b")),
            "id_b",
        )
    )
    ham = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling polynomial hash over the word stream:
    fp = Σ h(w_i)·B^(n-1-i) mod M, computed as a left fold
    fp_i = (fp_{i-1}·B + h(w_i)) mod M with M=2^31-1, B=1000003 (products
    stay < 2^63 → safe under ANSI arithmetic). h is the portable character
    fold shared with the SimHash words, so a SQL engine recomputes
    fingerprints exactly. Same-words-different-order docs get different
    fingerprints, unlike the word-set hash."""
    M, B = MERSENNE31, 1000003
    words = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    fp = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * B + _word_char_fold(w, _CHAR_MULT_1)) % M,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


# --------------------------------------------------------------------------
# near-dup clustering: pairs → connected components → canonical keeper
# --------------------------------------------------------------------------

def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph:
    (id, cluster_id = min id in the component).

    HYBRID strategy, same spirit as broadcast joins: a near-dup graph is
    tiny relative to the corpus (edges = verified pairs, not documents), so
    when the SYMMETRIZED directed-edge count (2× the pair count) is under
    ``driver_threshold`` the components are solved with a driver-side
    union-find in O(E α(E)) — one collect of the slim (src, dst) frame
    replaces ~log(diameter) Spark rounds whose per-round scheduling
    dominates on small graphs. The default bounds the collect at ~1M slim
    rows (tens of MB); graphs at or above it take the distributed
    iterative path below. Edges with a NULL endpoint are dropped (a null
    is not a document id) in both paths.

    Pair lists aren't a dedup decision — transitively-linked docs must
    collapse to ONE keeper (A~B, B~C ⇒ {A,B,C} is one cluster even if A≁C).
    Each round does min-label propagation across edges PLUS one pointer-
    jumping hop (labels chase their label's label, since labels are node
    ids) — the compression step makes label distances halve, so rounds are
    O(log diameter) even on adversarial chain graphs, not O(diameter).
    One count() action per round checks convergence. Each round's labels
    are localCheckpoint'ed: persist alone caches execution but leaves the
    LOGICAL plan growing (the self-join doubles it per round) until
    analysis itself dominates — checkpointing truncates the lineage so
    every round plans against a flat frame. Raises if max_iters rounds
    pass without converging — returning silently-split components would
    corrupt the dedup decision."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    if n_edges < driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in edges.collect():
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so cluster_id = min of the component
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in sorted(parent)]
        from pyspark.sql import types as T

        dt = pairs.schema[id_a].dataType
        schema = T.StructType(
            [T.StructField("id", dt), T.StructField("cluster_id", dt)]
        )
        return pairs.sparkSession.createDataFrame(rows, schema)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jumping: label ← label(label); labels are node ids, so
        # one hop halves every node's distance to its component min
        parents = propagated.select(
            F.col("id").alias("label"), F.col("label").alias("plabel")
        )
        new_labels = (
            propagated.join(parents, "label", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "id")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — raise max_iters"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def drop_near_dups(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical doc per near-dup cluster (the min id) plus every
    doc that appears in no pair — the end-to-end dedup decision."""
    clusters = near_dup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def cosine_expr(a: Column, b: Column) -> Column:
    """cos(a,b) via zip_with dot product — JVM-side, no UDF."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Pairs with cosine ≥ threshold within blocks. The block join bounds
    the O(n²); without `block_col` every pair is compared."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = df.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    pairs = a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        cosine_expr(F.col("a.v").cast("array<double>"), F.col("b.v").cast("array<double>")).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    hash_mode: str = "xxhash64",
    checkpoint: bool = True,
) -> DataFrame:
    """Cross-document duplicate n-gram detection (the exact-substring
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022, §4.1 — at word rather than BPE
    granularity): every word n-gram occurring in ≥ `min_docs` distinct
    documents is a duplicated span; per document we report how much of
    it is covered by such spans.

    Returns (doc_id, n_grams, n_dup_grams, dup_frac): n_grams = number
    of n-gram start positions (len(words) - n + 1, 0 for short docs),
    n_dup_grams = starts whose n-gram also appears elsewhere, dup_frac
    = n_dup_grams / n_grams (0 for short docs). A `dup_frac` near 1 is
    the boilerplate/mirror-page signature this filter exists to catch.

    Scale shape (suffix arrays don't distribute; hashing does):
    - grams are md5 hex digests, so the wide text never shuffles — the
      exploded frame is (doc_id, 32-byte hash);
    - the first aggregation is per (gram, doc) WITH multiplicity (one
      map-side-combinable groupBy), making the doc-frequency pass a
      count over already-deduped rows, never a COUNT DISTINCT;
    - flagged grams join back LEFT SEMI on the hash (equi-join, AQE
      skew-splittable; the pathological all-docs-share-a-gram key is
      bounded by doc count, not occurrence count, thanks to the
      per-doc pre-dedup).
    `hash_mode` picks the gram digest:
    - "xxhash64" (default, the PRODUCTION path): Spark's engine-side
      64-bit hash — an 8-byte long per gram instead of a 32-char hex
      string, no cryptographic rounds. Measured ~2× faster end-to-end
      at sf0.1; collisions at 64 bits are ~n²/2⁶⁵ (one in millions even
      at 10¹⁰ distinct grams) and a collision only over-flags one span.
    - "md5": deterministic and identical in Spark and DuckDB — the
      cross-engine ORACLE mode the driver-gated query runs (xxhash64 is
      engine-private, so its counts can't be replayed externally).
    Both modes produce identical (n_grams, n_dup_grams, dup_frac)
    except for the astronomically-unlikely collision over-flag.
    """
    if hash_mode not in ("xxhash64", "md5"):
        raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")
    digest = (
        "md5(array_join(slice(_ws, i, {n}), ' '))"
        if hash_mode == "md5"
        else "xxhash64(array_join(slice(_ws, i, {n}), ' '))"
    ).format(n=n)
    gram_t = "array<string>" if hash_mode == "md5" else "array<bigint>"
    words = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    grams = F.when(
        F.size(F.col("_ws")) >= n,
        F.expr(
            f"transform(sequence(1, size(_ws) - {n - 1}),"
            f" i -> {digest})"
        ),
    ).otherwise(F.array().cast(gram_t))
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("_ws")).select(
        "doc_id", grams.alias("_gs")
    )
    # Per-doc multiplicity WITHOUT a (gram, doc) shuffle: each input row
    # IS one document, so the per-doc gram counts are a row-local
    # run-length encode of the sorted gram array. This shape has exactly
    # TWO exchanges: one gram-partitioned window (doc frequency inline —
    # the rle rows are per-doc-unique, so count(*) per gram IS
    # docs-per-gram) and one doc-level aggregation that yields totals and
    # dup counts together (Σc per doc == gram-start count). Per-doc
    # pre-dedup still bounds the pathological all-docs-share-a-gram key
    # by doc count.
    #
    # The rle itself runs as a mapInArrow kernel, NOT JVM higher-order
    # functions: the HOF chain (array_sort of ~1k digests per doc +
    # filter/transform with per-element element_at) is interpreted —
    # HOFs never enter whole-stage codegen — and profiled as ~80% of the
    # whole query (~4 s of ~5 at sf0.1; the digest computation itself is
    # < 1 s). The kernel flattens each Arrow batch's gram lists into one
    # flat array (md5 digests are fixed-width 32-byte ASCII, so the
    # string column's data buffer reinterprets as numpy S32 zero-copy),
    # lexsorts (doc, gram) once vectorized, and emits run boundaries.
    # Batches never split a row, so per-doc runs stay batch-local.
    gram_is_str = hash_mode == "md5"
    id_t = df.schema[id_col].dataType.simpleString()
    ex_schema = (
        f"doc_id {id_t}, gram binary, c long"
        if gram_is_str
        else f"doc_id {id_t}, gram bigint, c long"
    )

    def _rle_batches(it):
        import pyarrow as pa

        for b in it:
            doc = b.column(0)
            lists = b.column(1)
            flat = lists.flatten()
            m = len(flat)
            if m == 0:
                continue
            offs = lists.offsets.to_numpy(zero_copy_only=False)
            offs = offs - offs[0]
            docidx = np.repeat(
                np.arange(len(doc), dtype=np.int64), np.diff(offs)
            )
            if gram_is_str:
                bufs = flat.buffers()
                soffs = np.frombuffer(
                    bufs[1], dtype=np.int32, count=m + 1, offset=flat.offset * 4
                )
                if (np.diff(soffs) == 32).all():
                    g = np.frombuffer(
                        bufs[2], dtype="S32", count=m, offset=int(soffs[0])
                    )
                else:  # defensive: md5 hex is always 32 ASCII chars
                    g = np.asarray(flat.to_pylist(), dtype="S32")
            else:
                g = flat.to_numpy(zero_copy_only=False)
            order = np.lexsort((g, docidx))
            g_s, d_s = g[order], docidx[order]
            new = np.empty(m, dtype=bool)
            new[0] = True
            new[1:] = (d_s[1:] != d_s[:-1]) | (g_s[1:] != g_s[:-1])
            starts = np.nonzero(new)[0]
            c = np.diff(starts, append=np.int64(m))
            import pyarrow.compute as pc

            yield pa.record_batch(
                [
                    pc.take(doc, pa.array(d_s[starts])),
                    pa.array(g_s[starts]),
                    pa.array(c, type=pa.int64()),
                ],
                names=["doc_id", "gram", "c"],
            )

    ex = base.mapInArrow(_rle_batches, ex_schema)
    wg = Window.partitionBy("gram")
    flagged = ex.withColumn("nd", F.count(F.lit(1)).over(wg))
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum(
            F.when(F.col("nd") >= min_docs, F.col("c")).otherwise(F.lit(0))
        ).alias("n_dup_grams"),
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    out = ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0))
        .cast("bigint")
        .alias("n_dup_grams"),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.floor(
                F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
    # doc-count-sized result; materialize so callers can fan out cheaply
    # (checkpoint=False keeps the full lineage visible for plan audits)
    return out.localCheckpoint(eager=True) if checkpoint else out


def heavy_hitters_per_group(
    df: DataFrame,
    group_col: str = "source",
    tokens_col: str = "tokens",
    k: int = 10,
) -> DataFrame:
    """Exact top-k heavy-hitter tokens per group: (group, token, cnt,
    rnk), ties broken by token ascending (deterministic cross-engine).

    The group column keeps its input name.

    Two-level shape: the (group, token) count is ONE map-side-combinable
    groupBy (partial aggregation absorbs the Zipf head before the
    shuffle — the hot token contributes one partial row per input
    partition, not one row per occurrence), then the rank window runs
    over groups of vocabulary size, never corpus size. At 100 TB this is
    the exact counterpart of a SpaceSaving sketch — exactness costs one
    shuffle of the (group × vocab) grid, which Zipf keeps far below the
    row count."""
    counts = (
        df.select(F.col(group_col), F.explode(tokens_col).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("cnt").desc(), F.col("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(group_col, "token", "cnt", "rnk")
    )
