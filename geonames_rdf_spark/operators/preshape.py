"""Pre-shaping operators (SURVEY.md §2.B1-B11).

The reference does these with awk pipelines over TSVs; here they are
declarative DataFrame transforms so Catalyst gets pushdown/pruning and the
small lookup sides broadcast.  Each function cites the awk it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_admin_keys(features: DataFrame) -> DataFrame:
    """B1: derived composite-FK columns (download.sh:87).

    adm1 = country_code "." admin1_code  (unconditionally)
    adm2 = country_code "." admin1_code "." admin2_code, or "NONE" if the
           admin2 code is empty.

    One ``select`` appending both columns; ``synth.FEATURES_PLUS_SQL`` is
    the DuckDB oracles' rendering of the same rule, and drift between the
    two is caught by the kg oracle rows.
    """
    return features.select(
        "*",
        F.concat(F.col("country_code"), F.lit("."), F.col("admin1_code"))
        .alias("adm1"),
        F.when(
            F.col("admin2_code") != "",
            F.concat(
                F.col("country_code"), F.lit("."), F.col("admin1_code"),
                F.lit("."), F.col("admin2_code"),
            ),
        ).otherwise(F.lit("NONE")).alias("adm2"),
    )


def semi_join_alt_names(alt_names: DataFrame, features: DataFrame) -> DataFrame:
    """B3: keep alternate-name rows whose geonameid exists in features.

    Replaces the awk assoc-array build+probe (download.sh:110-111) with a
    left-semi join.  No broadcast hint: at gazetteer scale (13M+ ids) a
    forced broadcast serializes through the driver; AQE picks
    broadcast-hash when the id side is small and a parallel shuffle join
    when it is not.
    """
    return alt_names.join(features.select("geonameid"), "geonameid", "left_semi")


def derive_admin_lookup(features: DataFrame, level: int) -> DataFrame:
    """B5: admin code lookup tables (code -> admin feature).

    Levels 3/4 replace download.sh:141-147 (filter A+ADMn, dotted code path);
    levels 1/2 are equivalent to the downloaded admin1/admin2 code files
    keyed CC.a1 / CC.a1.a2.  Output: (code, name, asciiname, geonameId).
    """
    parts = [F.col("country_code"), F.col("admin1_code")]
    if level >= 2:
        parts.append(F.col("admin2_code"))
    if level >= 3:
        parts.append(F.col("admin3_code"))
    if level >= 4:
        parts.append(F.col("admin4_code"))
    code = F.concat_ws(".", *parts)
    return (
        features.filter(
            (F.col("feature_class") == "A") & (F.col("feature_code") == f"ADM{level}")
        )
        .select(
            code.alias("code"),
            F.col("name"),
            F.col("asciiname"),
            F.col("geonameid").alias("geonameId"),
        )
    )


def derive_country_codes(features: DataFrame) -> DataFrame:
    """B6: country table from A+PCLI rows (download.sh:151-152)."""
    return features.filter(
        (F.col("feature_class") == "A") & (F.col("feature_code") == "PCLI")
    ).select(
        F.col("geonameid").alias("countryId"),
        F.col("country_code").alias("countryCode"),
        F.col("name"),
    )


def filter_country_hierarchy(hierarchy: DataFrame, country_codes: DataFrame) -> DataFrame:
    """B7: keep hierarchy edges whose parent is a country (download.sh:172-175)."""
    countries = F.broadcast(country_codes.select(F.col("countryId").alias("parentId")))
    return hierarchy.join(countries, "parentId", "left_semi")


def best_names(alt_names: DataFrame) -> DataFrame:
    """B8: per-geonameid best English name (compute-bestnames.sh:31-61).

    The awk keeps the FIRST English name in file order (the preferred branch
    also only sets when unset, so preference never overrides an earlier
    plain 'en' row).  Canonical file order = alternateNameId ascending.
    Spark-native: ``min_by`` hash aggregation — the argmin does a map-side
    partial combine (one candidate per key per map task crosses the
    exchange) where the former window row_number shuffled and sorted every
    'en' row; identical output (first row by alternateNameId ascending).
    """
    return (
        alt_names.filter(F.col("isolanguage") == "en")
        .groupBy("geonameid")
        .agg(F.min_by("alternateName", F.col("alternateNameId"))
             .alias("bestNameCandidate"))
    )


def with_best_name(features: DataFrame, best: DataFrame) -> DataFrame:
    """B9: left join + COALESCE fallback to `name` (compute-bestnames.sh:74-85)."""
    return features.join(best, "geonameid", "left").withColumn(
        "bestName", F.coalesce(F.col("bestNameCandidate"), F.col("name"))
    ).drop("bestNameCandidate")


def ags_lookup(features: DataFrame, ags_map: DataFrame, country: str = "DE") -> DataFrame:
    """B11: municipality-key (AGS) lookup with priority cascade.

    Reference (download.sh:212-224): for ADM1-4 rows of one country,
    ags = first non-empty, non-NONE of admin4 > admin3 > admin2 >
    map[admin1].  `nullif`-style guards express the awk if/else chain;
    the 16-row map is broadcast.
    """
    clean = lambda c: F.when((F.col(c) != "") & (F.col(c) != "NONE"), F.col(c))  # noqa: E731
    mapped = features.join(
        F.broadcast(ags_map.withColumnRenamed("ags", "ags_from_map")),
        features.admin1_code == ags_map.admin1_code,
        "left",
    ).drop(ags_map.admin1_code)
    return (
        mapped.filter(
            (F.col("country_code") == country)
            & (F.col("feature_class") == "A")
            & F.col("feature_code").rlike("ADM[1-4]")
        )
        .withColumn(
            "ags",
            F.coalesce(
                clean("admin4_code"),
                clean("admin3_code"),
                clean("admin2_code"),
                F.when(clean("admin1_code").isNotNull(), F.col("ags_from_map")),
            ),
        )
        .filter(F.col("ags").isNotNull() & (F.col("ags") != "") & (F.col("ags") != "NONE"))
        .select("geonameid", "ags")
    )
