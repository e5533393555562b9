"""Deterministic sampling and domain mixing for training corpora.

The last mile of a training-data pipeline: decide how much of each source
(domain) goes into the mix, then draw a REPRODUCIBLE sample — the same
rows on every run, every executor layout, and every engine (the keep/drop
decision is portable modular arithmetic on the portable hash family, so a
SQL oracle replays it row for row; `df.sample()` by contrast is
partition-layout-dependent and irreproducible across engines).

- ``uniform_hash_unit``: doc id → uniform value in [0, 1) via a
  Carter-Wegman hash mod a Mersenne prime (string ids take a char fold
  first). No shuffle, no Python.
- ``deterministic_sample``: keep rows with unit < rate; rate may be global
  or per-source (broadcast-joined plan frame).
- ``mixture_plan``: per-source token counts → sampling rates hitting a
  token budget at target weights (the data-mixing step of LLM training);
  undersized sources cap at rate 1.0 and report their shortfall.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from numalogic_spark.functions.exprs import (  # noqa: F401 — re-exported
    _CHAR_MULT,
    _SAMPLE_A,
    _SAMPLE_B,
    MERSENNE31,
    portable_hash_long,
)


def uniform_hash_unit(id_col: str | Column, salt: int = 0) -> Column:
    """id → uniform [0, 1): the id's STRING FORM (integral ids are cast to
    their decimal string) goes through the shared portable char fold
    (exprs._word_char_fold, mult 131 mod 2^31−1) SEEDED with the salt,
    then an affine map (A·h + B) mod p. Identical arithmetic is
    expressible in any SQL engine (the DuckDB oracle replays it).

    The salt must enter the fold (each char multiplies it onward), not be
    added at the end — an additive tail salt shifts the unit by salt/p
    (~1e-9) and produces the SAME sample for small salts."""
    return portable_hash_long(id_col, salt) / F.lit(float(MERSENNE31))


def deterministic_sample(
    df: DataFrame,
    rate: float | DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: int = 0,
) -> DataFrame:
    """Reproducible sample: keep rows whose hash unit < rate.

    ``rate``: a float (global) or a plan frame with (source, rate) — e.g.
    mixture_plan output — broadcast-joined on ``source_col``."""
    u = uniform_hash_unit(id_col, salt)
    if isinstance(rate, DataFrame):
        plan = F.broadcast(rate.select(F.col("source").alias(source_col), "rate"))
        return df.join(plan, source_col).filter(u < F.col("rate")).drop("rate")
    return df.filter(u < F.lit(float(rate)))


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    len_col: str = "n_tok",
) -> DataFrame:
    """Per-source sampling plan hitting ``token_budget`` at the target
    domain ``weights``: (source, n_tok_total, weight, target_tokens,
    rate, expected_tokens, shortfall).

    rate = min(1, target/available); a source smaller than its target
    contributes everything it has and reports the shortfall (the standard
    "epochs > 1 or re-weight" signal in mixture design) — including a
    weighted source entirely ABSENT from the data, which appears with
    n_tok_total = 0, rate = 0 and shortfall = its full target. Sources
    absent from ``weights`` get weight 0 (excluded)."""
    wsum = float(sum(weights.values())) or 1.0
    w_rows = [(s, float(w) / wsum) for s, w in weights.items()]
    spark = df.sparkSession
    wdf = spark.createDataFrame(w_rows, f"{source_col} string, weight double")
    per_src = df.groupBy(source_col).agg(
        F.sum(F.col(len_col).cast("long")).alias("n_tok_total")
    )
    target = F.col("weight") * F.lit(float(token_budget))
    rate = F.when(
        F.col("n_tok_total") > 0,
        F.least(F.lit(1.0), target / F.col("n_tok_total")),
    ).otherwise(F.lit(0.0))
    return (
        # LEFT join FROM the weights: a weighted source with no data must
        # surface (rate 0, full-target shortfall), not silently vanish
        wdf.join(per_src, source_col, "left")
        .withColumn("n_tok_total", F.coalesce("n_tok_total", F.lit(0)))
        .select(
            F.col(source_col).alias("source"),
            "n_tok_total",
            "weight",
            target.alias("target_tokens"),
            rate.alias("rate"),
            (rate * F.col("n_tok_total")).alias("expected_tokens"),
            F.greatest(target - F.col("n_tok_total"), F.lit(0.0)).alias("shortfall"),
        )
    )


def training_order(
    df: DataFrame,
    n_shards: int,
    key_cols: list[str],
    salt: int = 0,
) -> DataFrame:
    """Deterministic global shuffle of training examples into shards:
    shard = portable_hash(key) mod n_shards, ord = rank of the hash within
    the shard. The composite key (e.g. [source, pack_id]) concatenates
    with ':' before hashing.

    A training run reading shard s in ord order sees a REPRODUCIBLE
    pseudo-random permutation of the corpus — independent of partition
    layout, engine, or cluster size (df.orderBy(rand()) is none of those).
    Different salts give independent epoch orders. Hash ties (p ≈ 2^31
    values) break on the key itself, keeping the order total."""
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
    h = portable_hash_long(key, salt)
    # reserved temp name: never clobber a caller's column ('shard'/'ord'
    # ARE the outputs and overwrite intentionally, e.g. re-sharding for a
    # new epoch)
    tmp = "__training_order_hash"
    w = Window.partitionBy("shard").orderBy(tmp, *key_cols)
    return (
        df.withColumn(tmp, h)
        .withColumn("shard", F.pmod(F.col(tmp), F.lit(n_shards)).cast("int"))
        .withColumn("ord", F.row_number().over(w) - 1)
        .drop(tmp)
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_tiers: int = 4,
    key_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
    salt: int = 0,
) -> DataFrame:
    """Curriculum ordering: tier = ntile(n_tiers) over score DESC (highest-
    quality docs in tier 1), within-tier order = the portable hash — a
    reproducible shuffle WITHIN each difficulty band, the standard
    quality-curriculum data order (easy/clean tiers first, random inside).

    ``partition_cols`` tiers within partitions (e.g. per source) — the
    scale-safe form: a global ntile is a single total order (one-partition
    sort) and is only appropriate for bounded metadata frames. Ties break
    on ``key_cols`` (default [doc_id]) keeping the order total; different
    salts give independent within-tier epoch orders."""
    keys = key_cols or ["doc_id"]
    parts = partition_cols or []
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in keys])
    tmp = "__curriculum_hash"
    w_tier = Window.partitionBy(*parts).orderBy(F.col(score_col).desc(), *keys)
    w_ord = Window.partitionBy(*parts, "tier").orderBy(tmp, *keys)
    return (
        df.withColumn(tmp, portable_hash_long(key, salt))
        .withColumn("tier", F.ntile(n_tiers).over(w_tier))
        .withColumn("ord", F.row_number().over(w_ord) - 1)
        .drop(tmp)
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 50_000,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023 — the unigram bag-of-words instantiation): score every
    document by log p_target(doc) − log p_raw(doc) under add-α-smoothed
    unigram models, where the target model is fit on the rows matching
    `target_pred` (e.g. a trusted high-quality subset) and the raw model
    on the whole corpus. Rank-descending and keep the head to select a
    target-like training mix; weights are also the log of the importance
    ratio for resampling.

    Returns (doc_id, n_tokens, log_weight). Positive ⇒ more target-like
    than the corpus average.

    Engine shape: ONE tokenize pass —
    the word frame persists across the vocabulary pass and both count
    passes; the model is a (V+1)-row broadcast table of 6dp-quantized
    log-ratios (per-word quantization + decimal sums ⇒ the DuckDB oracle
    replays scores bit-exactly); scoring is explode → broadcast join →
    decimal sum, map-side combinable.
    """
    from numalogic_spark.functions.exprs import round6 as _q6

    words = F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
    warr = df.select(
        F.col(id_col).alias("doc_id"),
        target_pred.cast("boolean").alias("is_target"),
        words.alias("ws"),
    ).persist()
    try:
        tok = warr.select("doc_id", "is_target", F.explode("ws").alias("word"))
        wc = tok.groupBy("word").agg(
            F.count(F.lit(1)).alias("raw_c"),
            F.sum(F.col("is_target").cast("bigint")).alias("tgt_c"),
        )
        vocab_rows = (
            wc.orderBy(F.col("raw_c").desc(), F.col("word"))
            .limit(int(max_vocab))
            .collect()
        )
        v_size = len(vocab_rows)
        spark = df.sparkSession
        model = spark.createDataFrame(
            [(r["word"], int(r["raw_c"]), int(r["tgt_c"])) for r in vocab_rows],
            "word string, raw_c long, tgt_c long",
        )
        # in-vocab token totals per distribution: Σ over the model rows
        # (model-sized re-agg — no second corpus pass)
        totals = model.agg(
            F.sum("raw_c").alias("t_raw"), F.sum("tgt_c").alias("t_tgt")
        )
        denom_raw = F.col("t_raw") + F.lit(alpha) * F.lit(float(v_size + 1))
        denom_tgt = F.col("t_tgt") + F.lit(alpha) * F.lit(float(v_size + 1))
        lr = model.crossJoin(F.broadcast(totals)).select(
            "word",
            (
                _q6(F.log((F.col("tgt_c") + F.lit(alpha)) / denom_tgt))
                - _q6(F.log((F.col("raw_c") + F.lit(alpha)) / denom_raw))
            ).cast("decimal(28,6)").alias("lr"),
        )
        unk = totals.select(
            (
                _q6(F.log(F.lit(alpha) / denom_tgt))
                - _q6(F.log(F.lit(alpha) / denom_raw))
            ).cast("decimal(28,6)").alias("lr_unk"),
        )
        scored = (
            tok.select("doc_id", "word")
            .join(F.broadcast(lr), "word", "left")
            .crossJoin(F.broadcast(unk))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum(F.coalesce(F.col("lr"), F.col("lr_unk"))).alias("lw"),
            )
        )
        out = (
            warr.select("doc_id")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias(
                    "n_tokens"
                ),
                F.coalesce(F.col("lw").cast("double"), F.lit(0.0)).alias(
                    "log_weight"
                ),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        warr.unpersist()


def quantile_transform(
    df: DataFrame,
    value_col: str,
    group_cols: "list[str] | tuple[str, ...]" = ("source",),
    out_col: str = "q_unit",
) -> DataFrame:
    """Rank-based per-group calibration: map `value_col` to its
    percent-rank within the group — the quantile transform that makes
    quality scores COMPARABLE across domains before mixture planning
    (raw heuristic scores have domain-dependent scales; a 0.6 in one
    source is a different quantile than in another, so thresholding raw
    scores skews the mix).

    percent_rank = (rank − 1)/(n − 1): ties share the minimum rank
    (deterministic, engine-identical), endpoints hit exactly 0 and 1.
    One exchange + sort per group; at 10^12 rows per-group sort
    parallelism = group cardinality (the windows.py salted note — or
    pre-bucket values and rank the histogram instead).
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col))
    from numalogic_spark.functions.exprs import round6

    return df.withColumn(out_col, round6(F.percent_rank().over(w)))
