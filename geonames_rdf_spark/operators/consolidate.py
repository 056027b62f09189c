"""Triple-level consolidation (SURVEY.md §2.B28-B30) — parity operator.

The pipeline's default path applies these rules at emission (cheaper, no
join — see ``places.melt_feature_triples``).  This operator reproduces the
reference's *post-hoc* formulation (``config/consolidate.rq:12-53``): the
EXISTS subqueries become a per-subject flag aggregation + join against the
triple set itself, i.e. the anti-join shape the reference evaluates.
Useful to consolidate triples produced by third parties, and as the oracle
twin of the emit-time filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab


def consolidate_triples(triples: DataFrame) -> DataFrame:
    """Apply consolidate.rq:12-53 to a (subj, pred, obj, ...) triple table."""
    gn = vocab
    # EXISTS { ?uri gn:featureClass gn:A ; gn:featureCode gn:A.PCLI } etc.
    flags = (
        triples.filter(F.col("pred").isin(gn.GN_FEATURE_CLASS, gn.GN_FEATURE_CODE))
        .groupBy("subj")
        .agg(
            F.max(
                (F.col("pred") == gn.GN_FEATURE_CLASS)
                & (F.col("obj") == gn.GN + "A")
            ).alias("is_class_a"),
            F.max(
                (F.col("pred") == gn.GN_FEATURE_CODE)
                & (F.col("obj") == gn.GN + "A.PCLI")
            ).alias("has_pcli_code"),
            F.max(
                (F.col("pred") == gn.GN_FEATURE_CODE)
                & (F.col("obj") == gn.GN + "A.ADM1")
            ).alias("has_adm1_code"),
        )
        .withColumn("is_pcli", F.col("is_class_a") & F.col("has_pcli_code"))
        .withColumn("is_adm1", F.col("is_class_a") & F.col("has_adm1_code"))
        .select("subj", "is_pcli", "is_adm1")
    )
    t = triples.join(flags, "subj", "left").fillna(
        {"is_pcli": False, "is_adm1": False}
    )
    keep = (
        # consolidate.rq:18-22 — parentCountry dropped for PCLI subjects
        ~((F.col("pred") == gn.GN_PARENT_COUNTRY) & F.col("is_pcli"))
        # consolidate.rq:25-31 — nearbyFeatures dropped for ADM1 subjects
        & ~((F.col("pred") == gn.GN_NEARBY_FEATURES) & F.col("is_adm1"))
        # consolidate.rq:34-37 — population 0 dropped
        & ~((F.col("pred") == gn.GN_POPULATION) & (F.col("obj") == "0"))
        # consolidate.rq:40-53 — altitude dropped when non-literal or -9999
        & ~(
            (F.col("pred") == gn.WGS84_ALT)
            & (
                F.col("obj_is_iri")
                | (
                    F.col("obj_dt").isin(gn.XSD_DECIMAL, gn.XSD + "double")
                    & (F.col("obj").cast("decimal(18,6)") == -9999)
                )
            )
        )
    )
    return t.filter(keep).drop("is_pcli", "is_adm1")
