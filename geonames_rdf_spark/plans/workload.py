"""Analytical query workload over the triple table (SURVEY.md §2.C).

Spark-native equivalents of the reference's six canned SPARQL queries
(``web/queries/*.rq``).  Star joins (entity assembly from triples) are
expressed as one groupBy-pivot aggregation — a single shuffle — instead of
the N self-joins a naive translation would do; per-group argmax uses a
window max instead of the reference's quadratic NOT EXISTS; the transitive
property path is the BFS fixpoint in ``operators.graph``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab
from geonames_rdf_spark.functions.terms import haversine_m
from geonames_rdf_spark.operators import graph
from geonames_rdf_spark.session import local_frame


def entity_table(triples: DataFrame, preds: dict[str, str]) -> DataFrame:
    """Star-join entity assembly: one row per subject, one column per
    predicate.  Equivalent of a SPARQL basic graph pattern with N
    single-valued predicates on one subject (municipalities.rq:8-17) —
    done as ONE hash aggregation, not N self-joins.  ``max`` (not
    ``first``) keeps the aggregate hash-based and partial-combinable
    (``first`` forces SortAggregate) and picks deterministically when a
    predicate is unexpectedly multi-valued.
    """
    t = triples.filter(F.col("pred").isin(*preds.values()))
    aggs = [
        F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(c)
        for c, p in preds.items()
    ]
    return t.groupBy("subj").agg(*aggs)


def q_all_limit(triples: DataFrame) -> DataFrame:
    """C1 (all.rq): full scan + LIMIT 10 — made deterministic by total
    order."""
    return triples.select("subj", "pred", "obj").orderBy("subj", "pred", "obj").limit(10)


def q_population(triples: DataFrame, limit: int | None = None) -> DataFrame:
    """C2 (population.rq): ADM4 features, population > 500000, sorted.

    With ``limit`` the sort becomes TakeOrderedAndProject (per-partition
    top-k + merge — no global sort, the scale-safe shape)."""
    e = entity_table(
        triples,
        {
            "feature_code": vocab.GN_FEATURE_CODE,
            "name": vocab.GN_NAME,
            "population": vocab.GN_POPULATION,
            "latitude": vocab.WGS84_LAT,
            "longitude": vocab.WGS84_LONG,
        },
    )
    out = (
        e.filter(F.col("feature_code") == vocab.GN + "A.ADM4")
        .withColumn("population", F.col("population").cast("long"))
        .filter(F.col("population") > 500_000)
        .select(
            F.col("subj").alias("feature"), "name", "population",
            "latitude", "longitude",
        )
        .orderBy(F.desc("population"))
    )
    return out.limit(limit) if limit else out


def q_municipalities(triples: DataFrame, parent_uri: str) -> DataFrame:
    """C3 (municipalities.rq): 8-predicate star join + parent pin + sort."""
    e = entity_table(
        triples,
        {
            "rdf_type": vocab.RDF_TYPE,
            "parent": vocab.GN_PARENT_FEATURE,
            "feature_code": vocab.GN_FEATURE_CODE,
            "name": vocab.GN_NAME,
            "municipalityKey": vocab.WDT_P439,
            "population": vocab.GN_POPULATION,
            "latitude": vocab.WGS84_LAT,
            "longitude": vocab.WGS84_LONG,
        },
    )
    return (
        e.filter(
            (F.col("rdf_type") == vocab.GN_FEATURE)
            & (F.col("parent") == parent_uri)
            & F.col("feature_code").isNotNull()
            & F.col("name").isNotNull()
            & F.col("municipalityKey").isNotNull()
            & F.col("population").isNotNull()
            & F.col("latitude").isNotNull()
            & F.col("longitude").isNotNull()
        )
        .select(
            F.col("subj").alias("feature"), "name", "municipalityKey",
            F.col("population").cast("long").alias("num"),
            "latitude", "longitude",
        )
        .orderBy("name")
    )


def q_ancestors(triples: DataFrame, seed_uri: str) -> DataFrame:
    """C4 (hierarchy.rq:9-12): seed + its transitive parents with depth."""
    edges = graph.parent_edges(triples, vocab.GN_PARENT_FEATURE)
    seeds = local_frame(triples.sparkSession, [(seed_uri,)], "node string")
    return graph.transitive_closure(edges, seeds).select(
        F.col("node").alias("feature"), "depth"
    )


def q_descendants(triples: DataFrame, seed_uri: str) -> DataFrame:
    """C4' (graph_administrative_subdivisions.rq): subtree below a feature."""
    edges = graph.parent_edges(triples, vocab.GN_PARENT_FEATURE).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    seeds = local_frame(triples.sparkSession, [(seed_uri,)], "node string")
    return graph.transitive_closure(edges, seeds).select(
        F.col("node").alias("feature"), "depth"
    )


def q_subdivision_edges(triples: DataFrame, root_uri: str) -> DataFrame:
    """C4 composite (graph_administrative_subdivisions.rq): parentFeature
    edges among class-A descendants of ``root_uri``, with optional labels."""
    desc = q_descendants(triples, root_uri).select(F.col("feature").alias("subj"))
    e = entity_table(
        triples,
        {
            "object": vocab.GN_PARENT_FEATURE,
            "feature_class": vocab.GN_FEATURE_CLASS,
            "subjectLabel": vocab.GN_NAME,
        },
    )
    # the object label is the SAME per-subject max-name aggregate the
    # entity table already computed — re-alias it instead of running a
    # second full-table aggregation (one whole triple scan + exchange
    # saved; identical values by construction)
    names = e.select("subj", F.col("subjectLabel").alias("objectLabel"))
    return (
        e.join(desc, "subj", "left_semi")
        .filter(
            (F.col("feature_class") == vocab.GN + "A")
            & F.col("object").isNotNull()
        )
        .select(F.col("subj").alias("subject"), "object", "subjectLabel")
        .join(
            names.select(F.col("subj").alias("object"), "objectLabel"),
            "object", "left",
        )
        .select("subject", "object", "subjectLabel", "objectLabel")
    )


def q_longest_names(triples: DataFrame, pred: str, lang_prefix: str) -> DataFrame:
    """C5/C6 (hierarchy.rq:24-58): longest name per feature for a language.

    The reference uses FILTER NOT EXISTS (strictly longer) — quadratic in
    names-per-feature; keeps ties.  Spark-native: window MAX(length) per
    subject + filter, same tie semantics, one shuffle.
    """
    from pyspark.sql import Window

    named = triples.filter(
        (F.col("pred") == pred)
        & F.col("obj_lang").isNotNull()
        & F.col("obj_lang").startswith(lang_prefix)
    )
    w = Window.partitionBy("subj")
    return (
        named.withColumn("maxlen", F.max(F.length("obj")).over(w))
        .filter(F.length("obj") == F.col("maxlen"))
        .select(F.col("subj").alias("feature"), F.col("obj").alias("name"),
                F.col("obj_lang").alias("lang"))
    )


def q_longest_names_all_langs(triples: DataFrame, pred: str) -> DataFrame:
    """C5 generalized (hierarchy.rq:24-58 computes longest names per
    (feature, ANY language) group): longest name per (subject, lang) with
    ties kept — grouping key gains the language instead of pinning one
    prefix.  Same single-shuffle window formulation."""
    from pyspark.sql import Window

    named = triples.filter(
        (F.col("pred") == pred) & F.col("obj_lang").isNotNull()
    )
    w = Window.partitionBy("subj", "obj_lang")
    return (
        named.withColumn("maxlen", F.max(F.length("obj")).over(w))
        .filter(F.length("obj") == F.col("maxlen"))
        .select(F.col("subj").alias("feature"), F.col("obj").alias("name"),
                F.col("obj_lang").alias("lang"))
    )


def q_hierarchy_report(triples: DataFrame, seed_uri: str) -> DataFrame:
    """C4+C5+C7+C8 composite (hierarchy.rq): the seed and its transitive
    parents, with feature code, coords, optional municipality key, longest
    en/de names, and depth (the reference orders by COUNT(parentFeature) —
    depth is that count for a tree)."""
    anc = q_ancestors(triples, seed_uri).select(
        F.col("feature").alias("subj"), "depth"
    )
    # the ancestor set is tiny (path to the root): semi-join the triple
    # table down to those subjects BEFORE any aggregation — at corpus
    # scale this turns four full-table window passes into work on a
    # handful of rows
    scoped = triples.join(F.broadcast(anc.select("subj")), "subj", "left_semi")

    # ONE grouped pass over the scoped slice computes the star columns
    # AND all four longest-name slots (r09: the former separate
    # entity_table + pivot aggregations scanned and exchanged the slice
    # twice and joined the results).  Per slot: min_by over
    # (-length, value) with a NULL ordering outside the slot — min_by
    # ignores NULL-ordered rows, so each slot aggregates exactly the
    # rows the pivot branch did, longest-name-ties-to-smallest
    # semantics (the oracle's ROW_NUMBER pick) unchanged.
    kind = (
        F.when(F.col("pred") == vocab.GN_OFFICIAL_NAME, F.lit("official"))
        .when(F.col("pred") == vocab.GN_ALTERNATE_NAME, F.lit("alternate"))
    )
    lang2 = F.substring(F.col("obj_lang"), 1, 2)
    name_row = (
        F.col("pred").isin(vocab.GN_OFFICIAL_NAME, vocab.GN_ALTERNATE_NAME)
        & F.col("obj_lang").isNotNull()
        & lang2.isin("en", "de")
    )
    slot = F.concat(kind, F.lit("_"), lang2)

    def slot_agg(s: str):
        return F.min_by(
            "obj",
            F.when(name_row & (slot == s),
                   F.struct((-F.length("obj")).alias("neg_len"),
                            F.col("obj"))),
        ).alias(s)

    star = {
        "featureCode": vocab.GN_FEATURE_CODE,
        "latitude": vocab.WGS84_LAT,
        "longitude": vocab.WGS84_LONG,
        "municipalityKey": vocab.WDT_P439,
    }
    e = (
        scoped.filter(
            F.col("pred").isin(*star.values(), vocab.GN_OFFICIAL_NAME,
                               vocab.GN_ALTERNATE_NAME))
        .groupBy("subj")
        .agg(*[F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(c)
               for c, p in star.items()],
             *[slot_agg(s) for s in ("official_en", "alternate_en",
                                     "official_de", "alternate_de")])
    )
    base = anc.join(e, "subj", "left").filter(
        F.col("featureCode").isNotNull()
        & F.col("latitude").isNotNull()
        & F.col("longitude").isNotNull()
    )
    out = (
        base.withColumn("name", F.coalesce("official_en", "alternate_en"))
        .withColumn("name_de", F.coalesce("official_de", "alternate_de"))
    )
    return out.select(
        F.col("subj").alias("feature"), "name", "name_de", "municipalityKey",
        "featureCode", "latitude", "longitude", "depth",
    ).orderBy("depth")


def q_museums(triples: DataFrame, city_uri: str) -> DataFrame:
    """C9-C11 (museums.rq): the first 100 museums with the pinned city as
    parent, ordered by great-circle distance to the city centre, optional
    en-wikipedia link.

    geof:distance -> native haversine Column expression (no GeoSPARQL
    engine); distance rounded to whole metres for stable comparison.
    """
    # the en-wikipedia link rides the SAME star aggregation as the other
    # predicates (a conditional min next to the conditional maxes) — the
    # former standalone wiki aggregate cost one extra full triple scan +
    # exchange + left join for identical values (min over the when() is
    # NULL exactly where the old left join produced NULL)
    preds = {
        "parent": vocab.GN_PARENT_FEATURE,
        "feature_code": vocab.GN_FEATURE_CODE,
        "name": vocab.GN_NAME,
        "latitude": vocab.WGS84_LAT,
        "longitude": vocab.WGS84_LONG,
    }
    t = triples.filter(
        F.col("pred").isin(*preds.values(), vocab.GN_WIKIPEDIA_ARTICLE))
    e = t.groupBy("subj").agg(
        *[F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(c)
          for c, p in preds.items()],
        F.min(F.when(
            (F.col("pred") == vocab.GN_WIKIPEDIA_ARTICLE)
            & F.col("obj").startswith("https://en.wikipedia.org"),
            F.col("obj"))).alias("wikipediaArticle"),
    )
    city = e.filter(F.col("subj") == city_uri).select(
        F.col("latitude").cast("double").alias("city_lat"),
        F.col("longitude").cast("double").alias("city_long"),
    )
    museums = (
        e.filter(
            (F.col("parent") == city_uri)
            & (F.col("feature_code") == vocab.GN + "S.MUS")
            & F.col("name").isNotNull()
            & F.col("latitude").isNotNull()
            & F.col("longitude").isNotNull()
        )
        .crossJoin(F.broadcast(city))
        .withColumn(
            "distance_in_metre",
            F.round(
                haversine_m(
                    F.col("city_lat"), F.col("city_long"),
                    F.col("latitude").cast("double"),
                    F.col("longitude").cast("double"),
                ),
                0,
            ).cast("long"),
        )
    )
    return museums.select(
        F.col("subj").alias("feature"), "name", "latitude", "longitude",
        "distance_in_metre", "wikipediaArticle",
    ).orderBy("distance_in_metre", "feature").limit(100)


def q_all_code_labels(triples: DataFrame) -> DataFrame:
    """C12 over the FULL concept set: every gn:Code concept in the merged
    ontology block (690 in ontology v3.3) with its skos:prefLabel@en and
    the number of features carrying that code (0 for unused concepts).

    Usage aggregates FIRST (map-side-combinable count keyed by code), then
    broadcast-joins to the dimension-sized concept/label slices — the big
    table is touched once per slice, never fanned out."""
    concepts = (
        triples.filter((F.col("pred") == vocab.RDF_TYPE)
                       & (F.col("obj") == vocab.GN + "Code"))
        .select(F.col("subj").alias("code_iri"))
    )
    labels = (
        triples.filter(
            (F.col("pred") == F.lit(vocab.SKOS + "prefLabel"))
            & (F.col("obj_lang") == "en")
        )
        .select(F.col("subj").alias("code_iri"), F.col("obj").alias("label"))
    )
    usage = (
        triples.filter(F.col("pred") == vocab.GN_FEATURE_CODE)
        .groupBy(F.col("obj").alias("code_iri"))
        .agg(F.count(F.lit(1)).alias("n_features"))
    )
    return (
        concepts.join(F.broadcast(labels), "code_iri", "left")
        .join(usage, "code_iri", "left")
        .select("code_iri", "label",
                F.coalesce("n_features", F.lit(0)).alias("n_features"))
    )


def q_code_labels_in_kg(triples: DataFrame) -> DataFrame:
    """C12 against the ontology block INSIDE the triple table: feature
    codes self-join to the skos:prefLabel@en concept rows that build_kg
    now unions in (no external dimension needed — the merged-output shape
    the reference serves after docker-compose.yml:33-35).

    The label side is a tiny slice of the triple table — broadcast it so
    the skewed code fan-out (every PPL row shares ~7 codes) never
    shuffles."""
    from geonames_rdf_spark.sources.ontology import SKOS_PREF_LABEL

    codes = (
        triples.filter(F.col("pred") == vocab.GN_FEATURE_CODE)
        .select(F.col("subj").alias("feature"), F.col("obj").alias("code_iri"))
    )
    labels = (
        triples.filter(
            (F.col("pred") == F.lit(SKOS_PREF_LABEL))
            & (F.col("obj_lang") == "en")
        )
        .select(F.col("subj").alias("code_iri"), F.col("obj").alias("label"))
    )
    return codes.join(F.broadcast(labels), "code_iri", "inner").select(
        "feature", "code_iri", "label"
    )
