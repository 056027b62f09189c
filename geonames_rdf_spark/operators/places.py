"""Feature -> RDF triples mapping (SURVEY.md §2.B12-B24, §2.B28).

Re-expresses the reference's core CONSTRUCT query ``config/places.rq`` as a
single declarative DataFrame plan:

  features (wide row)
    -> required-column semantics + country inner join (places.rq:56-63,120-137)
    -> 4x broadcast left joins against admin-code lookups (places.rq:139-158)
    -> hierarchy left join (places.rq:164-174)
    -> parent-resolution expressions (places.rq:161,177-182)
    -> melt: one wide row -> array<struct(pred,obj,...)> -> explode -> filter

The melt runs in one narrow stage (no shuffle); all joins are broadcast
(admin lookups, countries and country-level hierarchy are dimension-sized
even at planet scale — GeoNames admin rows are ~400k vs 10^12 pages).
Consolidation filters (consolidate.rq:12-53) are applied at emission by
default — predicate-level ``when`` guards on columns of the same row, which
is strictly cheaper than the reference's post-hoc EXISTS anti-joins.

Triple schema: (subj, pred, obj, obj_is_iri, obj_lang, obj_dt) with subj and
pred as plain IRI strings and obj the lexical value; ``functions.nt_term``
renders canonical N-Triples.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geonames_rdf_spark import vocab
from geonames_rdf_spark.functions.terms import feature_uri, slugify

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), True),
        T.StructField("obj_is_iri", T.BooleanType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_dt", T.StringType(), True),
    ]
)


def _t(pred: str, obj: Column, is_iri: bool = False, lang: Column | None = None,
       dt: str | None = None, subj: Column | None = None) -> Column:
    """One (subj, pred, obj, obj_is_iri, obj_lang, obj_dt) emission struct.

    ``subj`` defaults to the feature uri column; the document block passes
    its own subject so feature and document triples melt in ONE explode
    (one pass over the wide row instead of two plan branches).
    """
    return F.struct(
        (subj if subj is not None else F.col("uri")).alias("subj"),
        F.lit(pred).alias("pred"),
        obj.cast("string").alias("obj"),
        F.lit(is_iri).alias("obj_is_iri"),
        (lang if lang is not None else F.lit(None).cast("string")).alias("obj_lang"),
        (F.lit(dt) if dt is not None else F.lit(None)).cast("string").alias("obj_dt"),
    )


def feature_entities(
    features: DataFrame,
    country_codes: DataFrame,
    admin_lookups: dict[int, DataFrame],
    country_hierarchy: DataFrame,
) -> DataFrame:
    """Assemble the wide per-feature entity row (places.rq WHERE clause).

    ``features`` must carry the derived ``adm1``/``adm2`` keys (preshape.B1)
    and ``bestName`` (preshape.B8/B9).  ``admin_lookups``: level -> DataFrame
    (code, geonameId); all four are broadcast.
    """
    f = features

    # Required-pattern semantics: places.rq:56-63 binds these columns as
    # non-OPTIONAL patterns, so a row missing any of them emits nothing.
    # (empty string == null via fx:null-string "", places.rq:49)
    required = ["asciiname", "latitude", "longitude", "bestName", "population"]
    for c in required:
        f = f.filter(F.col(c).isNotNull())
    f = f.filter(F.col("feature_class").isNotNull() & (F.col("feature_class") != ""))
    # FILTER(?countryCode != "") — places.rq:136
    f = f.filter(F.col("country_code").isNotNull() & (F.col("country_code") != ""))

    f = (
        f.withColumn("uri", feature_uri(F.col("geonameid")))
        .withColumn("definition_doc", feature_uri(F.col("geonameid"), "/about.rdf"))
        .withColumn("children_doc", feature_uri(F.col("geonameid"), "/contains.rdf"))
        .withColumn(
            "feature_class_iri", F.concat(F.lit(vocab.GN), F.col("feature_class"))
        )
        .withColumn(
            "feature_code_iri",
            F.when(
                F.col("feature_code").isNotNull() & (F.col("feature_code") != ""),
                F.concat(
                    F.lit(vocab.GN), F.col("feature_class"), F.lit("."),
                    F.col("feature_code"),
                ),
            ),
        )
        # decimal(10,5): real GeoNames coordinates carry 5 decimals
        # (places.rq:83-84 emits the raw lexical form; SURVEY §1.2)
        .withColumn("lat_lex", F.col("latitude").cast("decimal(10,5)").cast("string"))
        .withColumn("long_lex", F.col("longitude").cast("decimal(10,5)").cast("string"))
        # Altitude: elevation else dem (places.rq:91-94)
        .withColumn("alt_lex", F.coalesce(F.col("elevation"), F.col("dem")).cast("string"))
        .withColumn(
            "location_map",
            F.concat(
                F.lit(vocab.WWW), F.col("geonameid").cast("string"), F.lit("/"),
                slugify(F.col("asciiname")), F.lit(".html"),
            ),
        )
        .withColumn(
            "is_pcli",
            (F.col("feature_class") == "A") & (F.col("feature_code") == "PCLI"),
        )
        .withColumn(
            "is_adm1",
            (F.col("feature_class") == "A") & (F.col("feature_code") == "ADM1"),
        )
        # Proximity predicate selection (places.rq:97-108)
        .withColumn(
            "proximity_pred",
            F.when(F.col("is_pcli"), F.lit(vocab.GN_NEIGHBOURING_FEATURES)).otherwise(
                F.lit(vocab.GN_NEARBY_FEATURES)
            ),
        )
        .withColumn(
            "proximity_obj",
            F.when(
                F.col("is_pcli"), feature_uri(F.col("geonameid"), "/neighbours.rdf")
            ).otherwise(feature_uri(F.col("geonameid"), "/nearby.rdf")),
        )
        # Composite admin3/admin4 full codes with sentinel guards
        # (places.rq:112-117; note adm4 requires adm3FullCode nonempty first)
        .withColumn(
            "adm3_full",
            F.when(
                F.col("adm2").isNotNull()
                & F.col("admin3_code").isNotNull()
                & (F.col("admin3_code") != "")
                & (F.col("admin3_code") != "NONE"),
                F.concat(F.col("adm2"), F.lit("."), F.col("admin3_code")),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "adm4_full",
            F.when(
                (F.col("adm3_full") != "")
                & F.col("admin4_code").isNotNull()
                & (F.col("admin4_code") != "")
                & (F.col("admin4_code") != "NONE"),
                F.concat(F.col("adm3_full"), F.lit("."), F.col("admin4_code")),
            ).otherwise(F.lit("")),
        )
    )

    # Country join — required pattern => inner join (places.rq:120-137).
    countries = F.broadcast(
        country_codes.select(
            F.col("countryCode").alias("country_code"),
            feature_uri(F.col("countryId")).alias("parent_country"),
        )
    )
    f = f.join(countries, "country_code", "inner")

    # 4x admin-parent left joins with self-exclusion (places.rq:139-158).
    # Broadcast: admin lookup tables are dimension-sized.
    join_specs = [
        (1, F.col("adm1"), (F.col("adm1").isNotNull()) & (F.col("adm1") != "")),
        (2, F.col("adm2"), (F.col("adm2").isNotNull()) & (F.col("adm2") != "")),
        (3, F.col("adm3_full"), F.col("adm3_full") != ""),
        (4, F.col("adm4_full"), F.col("adm4_full") != ""),
    ]
    for level, key, guard in join_specs:
        lk = F.broadcast(
            admin_lookups[level].select(
                F.col("code").alias(f"_adm{level}_code"),
                F.col("geonameId").alias(f"_adm{level}_id"),
            )
        )
        f = f.join(lk, guard & (key == F.col(f"_adm{level}_code")), "left")
        # FILTER(?parentAdmN != ?uri): a self-match makes the OPTIONAL fail
        # => unbound, not an alternative match (places.rq:142,147,152,157).
        f = f.withColumn(
            f"parent_adm{level}",
            F.when(
                F.col(f"_adm{level}_id").isNotNull()
                & (F.col(f"_adm{level}_id") != F.col("geonameid")),
                feature_uri(F.col(f"_adm{level}_id")),
            ),
        ).drop(f"_adm{level}_code", f"_adm{level}_id")

    # Most-specific parent (places.rq:161)
    f = f.withColumn(
        "parent_admin",
        F.coalesce("parent_adm4", "parent_adm3", "parent_adm2", "parent_adm1"),
    )

    # Country-level hierarchy parent (places.rq:164-174); string-key compare
    # in the reference => cast both sides consistently (long here).
    hier = F.broadcast(
        country_hierarchy.select(
            F.col("childId").alias("geonameid"),
            feature_uri(F.col("parentId")).alias("country_parent_feature"),
        )
    )
    f = f.join(hier, "geonameid", "left")

    # Final parent rule (places.rq:177-182)
    f = f.withColumn(
        "final_parent",
        F.when(F.col("is_adm1"), F.col("parent_country")).otherwise(
            F.coalesce("parent_admin", "country_parent_feature")
        ),
    )
    return f


def _feature_emissions(consolidate: bool) -> list[Column]:
    """Emission structs for the feature block.

    Emission template = places.rq:13-33.  With ``consolidate=True`` the
    triple-level cleanup filters of consolidate.rq:12-53 are applied inline:
      - gn:population dropped when population = 0
      - wgs84:alt dropped when altitude = -9999
      - gn:parentCountry dropped for PCLI subjects
      - gn:nearbyFeatures dropped for ADM1 subjects
    """
    gn = vocab
    pop_obj = F.col("population").cast("string")
    if consolidate:
        pop_obj = F.when(F.col("population") != 0, pop_obj)
        alt_obj = F.when(F.col("alt_lex") != "-9999", F.col("alt_lex"))
        parent_country_obj = F.when(~F.col("is_pcli"), F.col("parent_country"))
        proximity_obj = F.when(
            F.col("is_pcli") | ~F.col("is_adm1"), F.col("proximity_obj")
        )
    else:
        alt_obj = F.col("alt_lex")
        parent_country_obj = F.col("parent_country")
        proximity_obj = F.col("proximity_obj")

    # featureCode: IRI when the code is present, else an empty plain literal
    # (places.rq:80-82 binds "" on the ELSE branch and CONSTRUCT emits it).
    fc_iri = _t(gn.GN_FEATURE_CODE, F.col("feature_code_iri"), is_iri=True)
    fc_lit = _t(gn.GN_FEATURE_CODE, F.lit(""))
    fc = F.when(F.col("feature_code_iri").isNotNull(), fc_iri).otherwise(fc_lit)

    return [
        _t(gn.RDF_TYPE, F.lit(gn.GN_FEATURE), is_iri=True),
        _t(gn.RDFS_IS_DEFINED_BY, F.col("definition_doc"), is_iri=True),
        _t(gn.GN_COUNTRY_CODE, F.col("country_code")),
        _t(gn.GN_FEATURE_CLASS, F.col("feature_class_iri"), is_iri=True),
        fc,
        _t(gn.GN_POPULATION, pop_obj, dt=gn.XSD_INTEGER),
        _t(gn.WGS84_LAT, F.col("lat_lex"), dt=gn.XSD_DECIMAL),
        _t(gn.WGS84_LONG, F.col("long_lex"), dt=gn.XSD_DECIMAL),
        F.struct(
            F.col("uri").alias("subj"),
            F.col("proximity_pred").alias("pred"),
            proximity_obj.alias("obj"),
            F.lit(True).alias("obj_is_iri"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dt"),
        ),
        _t(gn.GN_LOCATION_MAP, F.col("location_map"), is_iri=True),
        _t(gn.GN_PARENT_COUNTRY, parent_country_obj, is_iri=True),
        _t(gn.GN_PARENT_ADM1, F.col("parent_adm1"), is_iri=True),
        _t(gn.GN_PARENT_ADM2, F.col("parent_adm2"), is_iri=True),
        _t(gn.GN_PARENT_ADM3, F.col("parent_adm3"), is_iri=True),
        _t(gn.GN_PARENT_ADM4, F.col("parent_adm4"), is_iri=True),
        _t(gn.WGS84_ALT, alt_obj, dt=gn.XSD_DECIMAL),
        _t(gn.GN_CHILDREN_FEATURES, F.col("children_doc"), is_iri=True),
        _t(gn.GN_PARENT_FEATURE, F.col("final_parent"), is_iri=True),
        _t(gn.GN_NAME, F.col("bestName")),
    ]


def _document_emissions() -> list[Column]:
    """foaf:Document block (places.rq:36-41): license/attribution/modified."""
    gn = vocab
    doc = F.col("definition_doc")
    mod_obj = F.when(
        F.col("modification_date").isNotNull(),
        F.col("modification_date").cast("string"),
    )
    return [
        _t(gn.RDF_TYPE, F.lit(gn.FOAF_DOCUMENT), is_iri=True, subj=doc),
        _t(gn.FOAF_PRIMARY_TOPIC, F.col("uri"), is_iri=True, subj=doc),
        _t(gn.CC_LICENSE, F.lit(gn.LICENSE_URI), is_iri=True, subj=doc),
        _t(gn.CC_ATTRIBUTION_URL, F.lit(gn.ATTRIBUTION_URI), is_iri=True, subj=doc),
        _t(gn.CC_ATTRIBUTION_NAME, F.lit("GeoNames"), dt=gn.XSD_STRING, subj=doc),
        _t(gn.DCTERMS_MODIFIED, mod_obj, dt=gn.XSD_DATE, subj=doc),
    ]


def _melt(wide: DataFrame, emissions: list[Column]) -> DataFrame:
    t = wide.select(F.explode(F.array(*emissions)).alias("e")).select(
        "e.subj", "e.pred", "e.obj", "e.obj_is_iri", "e.obj_lang", "e.obj_dt"
    )
    return t.filter(F.col("obj").isNotNull())


def melt_feature_triples(wide: DataFrame, consolidate: bool = True,
                         include_docs: bool = False) -> DataFrame:
    """Explode the wide entity row into (subj, pred, obj, ...) triples.

    With ``include_docs`` the foaf:Document block melts in the same pass
    (single explode over one concatenated emission array — no second scan
    of the wide plan)."""
    em = _feature_emissions(consolidate)
    if include_docs:
        em = em + _document_emissions()
    return _melt(wide, em)
