"""Entity-link scoring and resolution (stage S4).

score = population prior + language-context bonus; per-mention argmax via
``groupBy(url, begin) + max_by`` — a hash aggregation with MAP-SIDE partial
combine, so the shuffle carries one row per *mention*, not one row per
candidate (the candidate fan-out for hot toponyms like 'London' collapses
before the exchange).  A sort-based window row_number here would shuffle
and sort every candidate row — measurably anti-scaling at high
parallelism.  The feature-attribute side is dimension-sized -> broadcast;
language context rides the mention stream (``detect_mentions(...,
carry_lang=True)``), so no join back to the page table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic page-language -> country-code-digit affinity used by the
# synthetic corpus; a real deployment derives this from feature country
LANG_COUNTRY = {"en": 0, "de": 1, "fr": 2}
# score added to a candidate whose country matches the page language
LANG_BONUS = 2.0


def link_mentions(
    mentions: DataFrame,
    features: DataFrame,
) -> DataFrame:
    """Resolve each (url, begin) mention to its best candidate.

    ``features`` needs (geonameid, population, country_code).  Returns
    (url, surface, begin, end, geonameid, score).  Language context comes
    from a ``lang`` column on ``mentions`` if present.
    """
    attrs = F.broadcast(
        features.select(
            F.col("geonameid").alias("candidate"),
            F.coalesce(F.col("population"), F.lit(0)).alias("_pop"),
            F.col("country_code").alias("_cc"),
        )
    )
    m = mentions.join(attrs, "candidate", "left")
    # round the PRIOR alone, then add the bonus — the exact arithmetic the
    # fused scorer (mentions.detect_and_link) uses, so the two documented-
    # equivalent paths pick the same candidate even on rounding-boundary
    # populations (argmax compares prior_rounded + bonus in both)
    score = F.round(F.log10(F.col("_pop") + 1), 6)
    if "lang" in mentions.columns:
        lang_map = F.create_map(
            *[x for k, v in LANG_COUNTRY.items() for x in (F.lit(k), F.lit(f"C{v}"))]
        )
        score = score + F.when(
            F.col("_cc") == lang_map[F.col("lang")], F.lit(LANG_BONUS)
        ).otherwise(F.lit(0.0))
    m = m.withColumn("_s", score).withColumn("score", F.round(score, 6))
    # argmax: max_by over (score, -candidate) — highest score, then lowest
    # geonameid; struct comparison is lexicographic, aggregation is
    # partial-combinable (unlike a window sort)
    best = m.groupBy("url", "begin").agg(
        F.max_by(
            F.struct("surface", "end", "candidate", "score"),
            # compare the UNROUNDED sum (like the fused scan); the emitted
            # score is the rounded projection
            F.struct(F.col("_s"), (-F.col("candidate")).alias("_negid")),
        ).alias("b")
    )
    return best.select(
        "url", F.col("b.surface").alias("surface"), "begin",
        F.col("b.end").alias("end"),
        F.col("b.candidate").alias("geonameid"),
        F.col("b.score").alias("score"),
    )
