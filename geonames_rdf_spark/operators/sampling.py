"""Deterministic sampling operators for training-data curation.

A 100 TB corpus is never trained on raw: boilerplate-heavy sources get
downsampled, scarce languages get kept in full.  The sampler here is
HASH-based, not ``DataFrame.sample`` — rows are kept iff a pure function
of their id falls under the stratum's rate, so the sample is (a)
reproducible across runs/executors/engines (md5, never a seeded RNG whose
stream depends on partitioning), (b) stable under corpus growth (adding
rows never flips existing keep/drop decisions), and (c) exactly
replayable by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 13 hex digits = 52 bits — exactly representable in a double, so the
# [0,1) uniform below is bit-identical in Spark and DuckDB
_HEX_DIGITS = 13
_DENOM = float(16 ** _HEX_DIGITS)


def uniform_hash(key: Column) -> Column:
    """Deterministic uniform draw in [0,1) from md5('sample-' || key).

    ``conv(hex, 16, 10)`` keeps everything in codegen; the 52-bit prefix
    fits a double exactly (no cross-engine rounding at the threshold)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sample-"), key.cast("string"))),
            1, _HEX_DIGITS),
        16, 10,
    )
    return h.cast("double") / F.lit(_DENOM)


def sample_stratified(df: DataFrame, rates: dict[str, float],
                      default_rate: float = 1.0) -> DataFrame:
    """Keep each row with its stratum's probability (hash-deterministic):
    the stratum is ``source``, the hashed key ``doc_id``.

    ``rates``: stratum value -> keep rate in [0,1]; unlisted strata use
    ``default_rate``.  One narrow filter — no shuffle, no RNG state.
    Rate-0 strata are additionally dropped by an explicit equality
    predicate, which IS parquet-pushable (the md5 expression itself is
    not)."""
    zero = sorted(k for k, r in rates.items() if r == 0.0)
    for k, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0,1], got {r}")
    rate = F.lit(float(default_rate))
    for k in sorted(rates):
        rate = F.when(F.col("source") == k,
                      F.lit(float(rates[k]))).otherwise(rate)
    out = df
    if zero:
        out = out.filter(~F.col("source").isin(*zero)
                         | F.col("source").isNull())
    return out.filter(uniform_hash(F.col("doc_id")) < rate)


# demo stratification used by the driver query + its DuckDB twin (pinned
# here so both sides read ONE definition)
DEMO_RATES = {"src0": 0.25, "src1": 0.5, "src2": 0.0}
DEMO_DEFAULT_RATE = 0.75


def uniform_hash_sql(expr: str) -> str:
    """The DuckDB twin of ``uniform_hash`` (oracle helper)."""
    key = f"md5('sample-' || CAST({expr} AS VARCHAR))"
    return (f"(('0x' || substr({key}, 1, {_HEX_DIGITS}))::UBIGINT::DOUBLE"
            f" / {_DENOM!r})")
