"""Expression-level utilities: the portable hash under the HLL and
Count-Min sketches, and `round6`, the cross-engine 6-dp rounding.

`round6` is the one Spark-side copy of that rounding. Its callers: the
`err_mean` of every AE family's window scores (`ae`, `lstm_ae`,
`conv_ae`, `vae`, `transformer_ae`), the HLL estimate and PromQL rates,
and the driver queries through `__spark_entry__._r6`. The numpy kernels
use `functions.ae._round6_np` and the SQL replays `functions.ae.round6_sql`.
"""

from __future__ import annotations

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


def round6(c: Column) -> Column:
    """THE cross-engine 6-dp rounding: floor(x·1e6 + 0.5) / 1e6.

    Spark's round() is HALF_UP, DuckDB's is half-to-even — on exact .5
    ties (common for means of 2-dp values) they disagree; floor has one
    definition everywhere. Load-bearing for every driver hash gate: use
    this helper, don't re-derive it (the same expression shape must
    appear in the oracle SQL as floor(x * 1000000 + 0.5) / 1000000.0).
    """
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
