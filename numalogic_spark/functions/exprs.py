"""Expression-level utilities: the portable hash family under the HLL/CMS
sketches and the document operators, the cross-engine rounding helper,
and `let_bind`.

`let_bind` is the workhorse: Catalyst's CollapseProject inlines a projected
expression into every downstream reference, and runtime subexpression
elimination does NOT cover higher-order-function lambdas — so an expensive
array expression referenced k times is computed k times. Binding it as a
lambda variable of a single-element `transform` forces exactly-once
evaluation per row while staying fully declarative (no persist/checkpoint
barrier, no shuffle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Portable hash family: every member is pure 64-bit-safe modular
# arithmetic, so the exact same numbers are computable in any ANSI-ish SQL
# engine (the DuckDB correctness oracle recomputes them end-to-end) —
# unlike engine-private hashes (xxhash64), which an oracle cannot replay.
MERSENNE31 = 2_147_483_647  # 2^31 - 1; a*x+b stays < 2^62 for a,x < 2^31
_SAMPLE_A = 1_103_515_245
_SAMPLE_B = 12_345
_CHAR_MULT = 131


def _word_char_fold(w: Column, mult: int, init: int = 0) -> Column:
    """Polynomial character fold of one word: acc = (acc·mult + codepoint)
    mod p, seeded with ``init`` (the salt hook).

    The string is split into its chars ONCE (split('') is a single pass; a
    substr(i, 1) per position re-seeks the UTF-8 string for every char,
    O(len²)). The empty string folds one 0-step (split('', '') is [''] and
    ascii('') = 0); NULL propagates."""
    chars = F.transform(F.split(w, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        chars,
        F.lit(init % MERSENNE31).cast("long"),
        lambda acc, c: (acc * F.lit(mult) + c) % F.lit(MERSENNE31),
    )


def portable_hash_long(id_col: str | Column, salt: int = 0) -> Column:
    """id → integer hash in [0, p): the shared char fold of the id's
    string form seeded with the salt, then (A·h + B) mod p."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    folded = _word_char_fold(c.cast("string"), _CHAR_MULT, init=salt)
    return (F.lit(_SAMPLE_A) * folded + F.lit(_SAMPLE_B)) % F.lit(MERSENNE31)


def ensure_parallelism(df, min_parts: int | None = None):
    """Repartition iff the input has fewer partitions than the cluster's
    default parallelism — the degenerate single-file/local case. At real
    scale parquet splits already provide the parallelism and this is a
    no-op (no shuffle). Operators whose per-row work is heavy (shingling,
    signatures) call this so one fat file can't serialize a whole stage —
    especially when self-joins re-evaluate the scan subtree per side."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def let_bind(expr: Column, body: Callable[[Column], Column]) -> Column:
    """let x = expr in body(x): evaluate `expr` ONCE per row, reference it
    many times inside `body` as a cheap lambda-variable lookup.

    Implementation: element_at(transform(array(expr), x -> body(x)), 1) —
    the array wrapper evaluates `expr` a single time; `body` sees the bound
    NamedLambdaVariable instead of the expression tree.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def round6(c: Column) -> Column:
    """THE cross-engine 6-dp rounding: floor(x·1e6 + 0.5) / 1e6.

    Spark's round() is HALF_UP, DuckDB's is half-to-even — on exact .5
    ties (common for means of 2-dp values) they disagree; floor has one
    definition everywhere. Load-bearing for every driver hash gate: use
    this helper, don't re-derive it (the same expression shape must
    appear in the oracle SQL as floor(x * 1000000 + 0.5) / 1000000.0).
    """
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
