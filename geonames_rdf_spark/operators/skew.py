"""Explicit skew-handling joins (SURVEY.md §4.1).

When the dimension side fits in memory, ``F.broadcast`` already defeats
key skew (no shuffle on the skewed key at all) — that is the pipeline's
default.  ``salted_join`` is the explicit strategy for when it does not:
replicate the hot-key rows of the small side K times and spread the big
side's hot keys across K salt buckets, so no single reducer owns 'London'.
AQE's skew-join split (enabled in session.py) is the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_expr(df: DataFrame, salt_buckets: int):
    """Deterministic per-row salt: hash over ALL columns (see
    ``salted_join`` docstring for why it must not be key-derived)."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns], F.lit(42)),
        F.lit(salt_buckets),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Inner equi-join ``big ⋈ small`` on ``key`` with salt spreading.

    big gets a deterministic PER-ROW salt — a hash over ALL its columns,
    NOT just the key: a key-derived salt is a pure function of the join
    key, so every 'London' row would land in the SAME salt bucket and
    nothing spreads (a defect in this operator's first revision, caught
    by the round-4 skew A/B measurement — the equivalence test cannot see
    it because results are identical either way).  Hashing all columns
    keeps the salt deterministic under task retry (exactly-once bucket
    writes stay idempotent); only fully-duplicate rows share a bucket.
    small is exploded to every salt value.  Output columns = big ∪ small
    (minus the duplicate key), like a plain ``join(..., key)``.
    """
    salted_big = big.withColumn("_salt", salt_expr(big, salt_buckets))
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(salted_small, [key, "_salt"])
    return out.drop("_salt")
