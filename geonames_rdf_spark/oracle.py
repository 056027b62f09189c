"""DuckDB oracle SQL twins for the KG-construction operators.

The driver compares each ``queries()`` DataFrame against the SQL here,
executed by DuckDB over the same parquet inputs.  The synthesis CTEs come
from ``synth.oracle_ctes`` (identical text runs on both engines); this
module adds the *mapping* logic re-expressed in plain SQL — an independent
second implementation of the reference rules (places.rq, alternateNames.rq,
consolidate.rq, compute-bestnames.sh, download.sh), which is exactly what
an oracle should be.
"""

from __future__ import annotations

import hashlib
import struct

from geonames_rdf_spark import synth

SWS = "https://sws.geonames.org/"
GN = "http://www.geonames.org/ontology#"

# --- pre-shaping stage CTEs (mirror of operators/preshape.py) --------------

GAZ_PREP = """
alt_semi AS (
  SELECT a.* FROM alt_names a
  WHERE a.geonameid IN (SELECT geonameid FROM features)
),
best AS (
  SELECT geonameid, alternateName AS bestNameCandidate FROM (
    SELECT geonameid, alternateName,
           ROW_NUMBER() OVER (PARTITION BY geonameid ORDER BY alternateNameId) AS rn
    FROM alt_semi WHERE isolanguage = 'en'
  ) WHERE rn = 1
),
fbn AS (
  SELECT f.*, COALESCE(b.bestNameCandidate, f.name) AS bestName
  FROM features_plus f LEFT JOIN best b ON f.geonameid = b.geonameid
),
countries AS (
  SELECT geonameid AS countryId, country_code AS countryCode, name
  FROM features WHERE feature_class = 'A' AND feature_code = 'PCLI'
),
adm1_lookup AS (
  SELECT country_code || '.' || admin1_code AS code, geonameid AS admid
  FROM features WHERE feature_class = 'A' AND feature_code = 'ADM1'
),
adm2_lookup AS (
  SELECT country_code || '.' || admin1_code || '.' || admin2_code AS code,
         geonameid AS admid
  FROM features WHERE feature_class = 'A' AND feature_code = 'ADM2'
),
adm3_lookup AS (
  SELECT country_code || '.' || admin1_code || '.' || admin2_code || '.'
         || admin3_code AS code, geonameid AS admid
  FROM features WHERE feature_class = 'A' AND feature_code = 'ADM3'
),
adm4_lookup AS (
  SELECT country_code || '.' || admin1_code || '.' || admin2_code || '.'
         || admin3_code || '.' || admin4_code AS code, geonameid AS admid
  FROM features WHERE feature_class = 'A' AND feature_code = 'ADM4'
),
hier AS (
  SELECT parentId, childId FROM hierarchy_raw
  WHERE parentId IN (SELECT countryId FROM countries)
)
"""

# --- wide entity assembly (mirror of operators/places.feature_entities) ----

WIDE = f"""
fbn2 AS (
  SELECT f.*,
    CASE WHEN f.adm2 IS NOT NULL AND f.admin3_code IS NOT NULL
              AND f.admin3_code <> '' AND f.admin3_code <> 'NONE'
         THEN f.adm2 || '.' || f.admin3_code ELSE '' END AS adm3_full
  FROM fbn f
  WHERE f.population IS NOT NULL AND f.asciiname IS NOT NULL
    AND f.latitude IS NOT NULL AND f.longitude IS NOT NULL
    AND f.bestName IS NOT NULL AND f.feature_class IS NOT NULL
    AND f.feature_class <> '' AND f.country_code IS NOT NULL
    AND f.country_code <> ''
),
fbn3 AS (
  SELECT f.*,
    CASE WHEN f.adm3_full <> '' AND f.admin4_code IS NOT NULL
              AND f.admin4_code <> '' AND f.admin4_code <> 'NONE'
         THEN f.adm3_full || '.' || f.admin4_code ELSE '' END AS adm4_full
  FROM fbn2 f
),
wide0 AS (
  SELECT f.*,
    '{SWS}' || CAST(f.geonameid AS STRING) || '/' AS uri,
    '{SWS}' || CAST(f.geonameid AS STRING) || '/about.rdf' AS definition_doc,
    '{SWS}' || CAST(f.geonameid AS STRING) || '/contains.rdf' AS children_doc,
    '{GN}' || f.feature_class AS feature_class_iri,
    CASE WHEN f.feature_code IS NOT NULL AND f.feature_code <> ''
         THEN '{GN}' || f.feature_class || '.' || f.feature_code
         END AS feature_code_iri,
    CAST(CAST(f.latitude AS DECIMAL(10,5)) AS STRING) AS lat_lex,
    CAST(CAST(f.longitude AS DECIMAL(10,5)) AS STRING) AS long_lex,
    CAST(COALESCE(f.elevation, f.dem) AS STRING) AS alt_lex,
    'https://www.geonames.org/' || CAST(f.geonameid AS STRING) || '/'
      || REPLACE(REPLACE(LOWER(f.asciiname), ',', ''), ' ', '-') || '.html'
      AS location_map,
    (f.feature_class = 'A' AND f.feature_code = 'PCLI') AS is_pcli,
    (f.feature_class = 'A' AND f.feature_code = 'ADM1') AS is_adm1,
    CAST(f.modification_date AS STRING) AS mod_lex,
    '{SWS}' || CAST(c.countryId AS STRING) || '/' AS parent_country,
    CASE WHEN a1.admid IS NOT NULL AND a1.admid <> f.geonameid
         THEN '{SWS}' || CAST(a1.admid AS STRING) || '/' END AS parent_adm1,
    CASE WHEN a2.admid IS NOT NULL AND a2.admid <> f.geonameid
         THEN '{SWS}' || CAST(a2.admid AS STRING) || '/' END AS parent_adm2,
    CASE WHEN a3.admid IS NOT NULL AND a3.admid <> f.geonameid
         THEN '{SWS}' || CAST(a3.admid AS STRING) || '/' END AS parent_adm3,
    CASE WHEN a4.admid IS NOT NULL AND a4.admid <> f.geonameid
         THEN '{SWS}' || CAST(a4.admid AS STRING) || '/' END AS parent_adm4,
    CASE WHEN h.parentId IS NOT NULL
         THEN '{SWS}' || CAST(h.parentId AS STRING) || '/' END AS country_parent
  FROM fbn3 f
  JOIN countries c ON f.country_code = c.countryCode
  LEFT JOIN adm1_lookup a1 ON f.adm1 IS NOT NULL AND f.adm1 <> '' AND f.adm1 = a1.code
  LEFT JOIN adm2_lookup a2 ON f.adm2 IS NOT NULL AND f.adm2 <> '' AND f.adm2 = a2.code
  LEFT JOIN adm3_lookup a3 ON f.adm3_full <> '' AND f.adm3_full = a3.code
  LEFT JOIN adm4_lookup a4 ON f.adm4_full <> '' AND f.adm4_full = a4.code
  LEFT JOIN hier h ON f.geonameid = h.childId
),
wide AS (
  SELECT w.*,
    CASE WHEN w.is_adm1 THEN w.parent_country
         ELSE COALESCE(w.parent_adm4, w.parent_adm3, w.parent_adm2,
                       w.parent_adm1, w.country_parent) END AS final_parent
  FROM wide0 w
)
"""

_NULLS = "CAST(NULL AS STRING) AS obj_lang, CAST(NULL AS STRING) AS obj_dt"
_XSD = "http://www.w3.org/2001/XMLSchema#"


def _feat_triples(consolidated: bool) -> str:
    pop_where = "population IS NOT NULL"
    alt_where = "alt_lex IS NOT NULL"
    prox_where = "TRUE"
    pc_where = "TRUE"
    if consolidated:
        pop_where += " AND population <> 0"
        alt_where += " AND alt_lex <> '-9999'"
        prox_where = "(is_pcli OR NOT is_adm1)"
        pc_where = "NOT is_pcli"
    iri = "TRUE AS obj_is_iri"
    lit = "FALSE AS obj_is_iri"
    rows = [
        f"SELECT uri AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred, '{GN}Feature' AS obj, {iri}, {_NULLS} FROM wide",
        f"SELECT uri, 'http://www.w3.org/2000/01/rdf-schema#isDefinedBy', definition_doc, {iri}, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}countryCode', country_code, {lit}, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}featureClass', feature_class_iri, {iri}, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}featureCode', COALESCE(feature_code_iri, ''), feature_code_iri IS NOT NULL AS obj_is_iri, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}population', CAST(population AS STRING), {lit}, CAST(NULL AS STRING), '{_XSD}integer' FROM wide WHERE {pop_where}",
        f"SELECT uri, 'http://www.w3.org/2003/01/geo/wgs84_pos#lat', lat_lex, {lit}, CAST(NULL AS STRING), '{_XSD}decimal' FROM wide",
        f"SELECT uri, 'http://www.w3.org/2003/01/geo/wgs84_pos#long', long_lex, {lit}, CAST(NULL AS STRING), '{_XSD}decimal' FROM wide",
        f"""SELECT uri,
              CASE WHEN is_pcli THEN '{GN}neighbouringFeatures' ELSE '{GN}nearbyFeatures' END,
              CASE WHEN is_pcli THEN '{SWS}' || CAST(geonameid AS STRING) || '/neighbours.rdf'
                   ELSE '{SWS}' || CAST(geonameid AS STRING) || '/nearby.rdf' END,
              {iri}, {_NULLS} FROM wide WHERE {prox_where}""",
        f"SELECT uri, '{GN}locationMap', location_map, {iri}, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}parentCountry', parent_country, {iri}, {_NULLS} FROM wide WHERE {pc_where}",
        f"SELECT uri, '{GN}parentADM1', parent_adm1, {iri}, {_NULLS} FROM wide WHERE parent_adm1 IS NOT NULL",
        f"SELECT uri, '{GN}parentADM2', parent_adm2, {iri}, {_NULLS} FROM wide WHERE parent_adm2 IS NOT NULL",
        f"SELECT uri, '{GN}parentADM3', parent_adm3, {iri}, {_NULLS} FROM wide WHERE parent_adm3 IS NOT NULL",
        f"SELECT uri, '{GN}parentADM4', parent_adm4, {iri}, {_NULLS} FROM wide WHERE parent_adm4 IS NOT NULL",
        f"SELECT uri, 'http://www.w3.org/2003/01/geo/wgs84_pos#alt', alt_lex, {lit}, CAST(NULL AS STRING), '{_XSD}decimal' FROM wide WHERE {alt_where}",
        f"SELECT uri, '{GN}childrenFeatures', children_doc, {iri}, {_NULLS} FROM wide",
        f"SELECT uri, '{GN}parentFeature', final_parent, {iri}, {_NULLS} FROM wide WHERE final_parent IS NOT NULL",
        f"SELECT uri, '{GN}name', bestName, {lit}, {_NULLS} FROM wide",
    ]
    return "\nUNION ALL\n".join(rows)


DOC_TRIPLES = f"""
SELECT definition_doc AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'http://xmlns.com/foaf/0.1/Document' AS obj, TRUE AS obj_is_iri, {_NULLS} FROM wide
UNION ALL
SELECT definition_doc, 'http://xmlns.com/foaf/0.1/primaryTopic', uri, TRUE, {_NULLS} FROM wide
UNION ALL
SELECT definition_doc, 'http://creativecommons.org/ns#license',
       'https://creativecommons.org/licenses/by/4.0/', TRUE, {_NULLS} FROM wide
UNION ALL
SELECT definition_doc, 'http://creativecommons.org/ns#attributionURL',
       'https://www.geonames.org', TRUE, {_NULLS} FROM wide
UNION ALL
SELECT definition_doc, 'http://creativecommons.org/ns#attributionName',
       'GeoNames', FALSE, CAST(NULL AS STRING), '{_XSD}string' FROM wide
UNION ALL
SELECT definition_doc, 'http://purl.org/dc/terms/modified', mod_lex, FALSE,
       CAST(NULL AS STRING), '{_XSD}date' FROM wide WHERE mod_lex IS NOT NULL
"""

ALT_CLASS = rf"""
alt_class AS (
  SELECT
    '{SWS}' || CAST(geonameid AS STRING) || '/' AS subj,
    CASE WHEN isolanguage IS NOT NULL AND isolanguage <> '' THEN isolanguage END AS lang,
    CASE WHEN isPreferredName IS NOT NULL AND isPreferredName <> '' THEN isPreferredName END AS pref,
    CASE WHEN isShortName IS NOT NULL AND isShortName <> '' THEN isShortName END AS short,
    alternateName AS name
  FROM alt_semi
  WHERE geonameid IS NOT NULL AND alternateName IS NOT NULL
),
alt_class2 AS (
  SELECT *,
    (lang IS NOT NULL AND lang <> 'link' AND lang <> 'post'
     AND regexp_matches(lang, '^[a-z]{{2,3}}$')) AS valid_tag,
    CASE WHEN lang = 'link'
              AND regexp_matches(name, '^https?://[a-z-]+\.wikipedia\.org/wiki/')
         THEN name END AS wiki
  FROM alt_class
),
alt_class3 AS (
  SELECT *,
    CASE WHEN wiki IS NOT NULL
              AND regexp_matches(wiki, '^https?://en\.wikipedia\.org/wiki/')
         THEN 'https://dbpedia.org/resource/' ||
           CASE WHEN contains(wiki, '%')
                THEN regexp_replace(wiki, '^https?://en\.wikipedia\.org/wiki/', '')
                ELSE replace(regexp_replace(wiki, '^https?://en\.wikipedia\.org/wiki/', ''), ' ', '%20')
           END
    END AS dbpedia,
    CASE WHEN short = '1' THEN NULL
         WHEN pref = '1' THEN NULL
         WHEN valid_tag THEN name
         WHEN lang IS NULL THEN name END AS alt_name,
    CASE WHEN short = '1' OR pref = '1' THEN NULL
         WHEN valid_tag THEN lang END AS alt_lang,
    CASE WHEN lang = 'post' THEN name END AS postal_code,
    CASE WHEN pref = '1' AND valid_tag THEN name END AS official_name,
    CASE WHEN pref = '1' AND valid_tag THEN lang END AS official_lang,
    CASE WHEN short = '1' THEN name END AS short_name,
    CASE WHEN short = '1' AND valid_tag THEN lang END AS short_lang
  FROM alt_class2
)
"""

ALT_TRIPLES = f"""
SELECT subj, '{GN}wikipediaArticle' AS pred, wiki AS obj, TRUE AS obj_is_iri, {_NULLS}
  FROM alt_class3 WHERE wiki IS NOT NULL
UNION ALL
SELECT subj, 'http://www.w3.org/2000/01/rdf-schema#seeAlso', dbpedia, TRUE, {_NULLS}
  FROM alt_class3 WHERE dbpedia IS NOT NULL
UNION ALL
SELECT subj, '{GN}alternateName', alt_name, FALSE, alt_lang, CAST(NULL AS STRING)
  FROM alt_class3 WHERE alt_name IS NOT NULL
UNION ALL
SELECT subj, '{GN}postalCode', postal_code, FALSE, {_NULLS}
  FROM alt_class3 WHERE postal_code IS NOT NULL
UNION ALL
SELECT subj, '{GN}officialName', official_name, FALSE, official_lang, CAST(NULL AS STRING)
  FROM alt_class3 WHERE official_name IS NOT NULL
UNION ALL
SELECT subj, '{GN}shortName', short_name, FALSE, short_lang, CAST(NULL AS STRING)
  FROM alt_class3 WHERE short_name IS NOT NULL
"""

AGS_TRIPLES = """
SELECT '{sws}' || CAST(geonameid AS STRING) || '/' AS subj,
       'http://www.wikidata.org/prop/direct/P439' AS pred,
       ags AS obj, FALSE AS obj_is_iri, {nulls}
FROM (
  SELECT f.geonameid,
    COALESCE(
      CASE WHEN f.admin4_code <> '' AND f.admin4_code <> 'NONE' THEN f.admin4_code END,
      CASE WHEN f.admin3_code <> '' AND f.admin3_code <> 'NONE' THEN f.admin3_code END,
      CASE WHEN f.admin2_code <> '' AND f.admin2_code <> 'NONE' THEN f.admin2_code END,
      CASE WHEN f.admin1_code <> '' AND f.admin1_code <> 'NONE' THEN m.ags END
    ) AS ags
  FROM features f LEFT JOIN ags_map m ON f.admin1_code = m.admin1_code
  WHERE f.country_code = '{country}' AND f.feature_class = 'A'
    AND regexp_matches(f.feature_code, 'ADM[1-4]')
)
WHERE ags IS NOT NULL AND ags <> '' AND ags <> 'NONE'
""".format(sws=SWS, nulls=_NULLS, country="C0")


def kg_prefix() -> str:
    """Full WITH-prolog: synthesis + prep + wide + alt classification."""
    return (
        synth.oracle_ctes("features", "features_plus", "alt_names",
                          "hierarchy_raw", "ags_map")
        + ",\n" + GAZ_PREP.strip()
        + ",\n" + WIDE.strip()
        + ",\n" + ALT_CLASS.strip()
    )


def kg_sql(consolidated: bool = True, docs: bool = True, alt: bool = True,
           ags: bool = True, ontology: bool = True,
           prefix: str | None = None) -> str:
    """Oracle for build.build_kg with matching flags.  ``prefix``
    overrides the WITH-prolog (the scoped-changelog oracle passes the
    MUTATED new-world prolog)."""
    from geonames_rdf_spark.sources import ontology as ont

    parts = [_feat_triples(consolidated)]
    if docs:
        parts.append(DOC_TRIPLES.strip())
    if alt:
        parts.append(ALT_TRIPLES.strip())
    if ags:
        parts.append(AGS_TRIPLES.strip())
    if ontology:
        parts.append(ont.oracle_values_sql())
    body = "\nUNION ALL\n".join(parts)
    return f"{prefix or kg_prefix()}\n{body}"


# --- r06 dump-mutation fixture (kg_scoped_changelog) -----------------------
#
# One deterministic "new dump" derived from the synthesized world,
# touching EVERY closure rule of delta.affected_ids_from_dump_diff:
# feature rows (bump + delete), alt rows (pruned with deleted features),
# a hierarchy edge (drop child MUT_DROP_CHILD's country edge), and an
# ags_map value (admin1 MUT_AGS_A1 -> MUT_AGS_NEW).  The Spark side
# builds the same world with DataFrame ops (__spark_entry__); the two
# renderings cannot drift silently — the driver hash-compares the
# SCOPED Spark changelog against this FULL SQL changelog.

MUT_POP_MOD = 7
MUT_DEL_MOD = 5
MUT_DROP_CHILD = 1
MUT_AGS_A1 = "1"
MUT_AGS_NEW = "99"


def kg_prefix_mutated() -> str:
    """New-world WITH-prolog: synth tables re-rendered under the r06
    dump mutation, then the unchanged prep/wide/alt chain on top."""
    parts = [
        f"features_base AS (\n{synth.FEATURES_SQL.strip()}\n)",
        ("features AS (SELECT * REPLACE (CASE WHEN geonameid % "
         f"{MUT_POP_MOD} = 0 AND feature_class = 'P' THEN population + 1"
         " ELSE population END AS population) FROM features_base"
         f" WHERE NOT (geonameid % {MUT_DEL_MOD} = 0"
         " AND feature_class = 'P'))"),
        f"features_plus AS (\n{synth.FEATURES_PLUS_SQL.strip()}\n)",
        f"alt_base AS (\n{synth.ALT_NAMES_SQL.strip()}\n)",
        ("alt_names AS (SELECT * FROM alt_base WHERE geonameid IN"
         " (SELECT geonameid FROM features))"),
        (f"hierarchy_raw AS (SELECT * FROM (\n{synth.HIERARCHY_SQL.strip()}"
         f"\n) WHERE childId <> {MUT_DROP_CHILD})"),
        ("ags_map AS (SELECT admin1_code, CASE WHEN admin1_code = "
         f"'{MUT_AGS_A1}' THEN '{MUT_AGS_NEW}' ELSE ags END AS ags FROM (\n"
         f"{synth.AGS_MAP_SQL.strip()}\n))"),
    ]
    return ("WITH " + ",\n".join(parts)
            + ",\n" + GAZ_PREP.strip()
            + ",\n" + WIDE.strip()
            + ",\n" + ALT_CLASS.strip())


# --- query-workload oracles (SURVEY.md §2.C) -------------------------------

def kg_cte(recursive: bool = False) -> str:
    """Prolog + ``kg AS (<full triple union>)`` for workload queries."""
    from geonames_rdf_spark.sources import ontology as ont

    body = "\nUNION ALL\n".join(
        [_feat_triples(True), DOC_TRIPLES.strip(), ALT_TRIPLES.strip(),
         AGS_TRIPLES.strip(), ont.oracle_values_sql()]
    )
    prefix = kg_prefix()
    if recursive:
        prefix = prefix.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"{prefix},\nkg AS (\n{body}\n)"


_ENT = """
ent AS (
  SELECT subj,
    MAX(CASE WHEN pred = '{gn}featureCode' THEN obj END) AS feature_code,
    MAX(CASE WHEN pred = '{gn}featureClass' THEN obj END) AS feature_class,
    MAX(CASE WHEN pred = '{gn}name' THEN obj END) AS name,
    MAX(CASE WHEN pred = '{gn}parentFeature' THEN obj END) AS parent,
    MAX(CASE WHEN pred = '{gn}population' THEN obj END) AS population,
    MAX(CASE WHEN pred = 'http://www.wikidata.org/prop/direct/P439' THEN obj END) AS municipalityKey,
    MAX(CASE WHEN pred = 'http://www.w3.org/2003/01/geo/wgs84_pos#lat' THEN obj END) AS latitude,
    MAX(CASE WHEN pred = 'http://www.w3.org/2003/01/geo/wgs84_pos#long' THEN obj END) AS longitude,
    MAX(CASE WHEN pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' THEN obj END) AS rdf_type
  FROM kg GROUP BY subj
)
""".format(gn=GN)


def _ancestors_cte(seed_uri: str) -> str:
    return f"""
ancestors AS (
  SELECT CAST('{seed_uri}' AS STRING) AS node, 0 AS depth
  UNION
  SELECT e.obj, a.depth + 1
  FROM ancestors a JOIN kg e
    ON e.pred = '{GN}parentFeature' AND e.subj = a.node
),
anc AS (SELECT node, MIN(depth) AS depth FROM ancestors GROUP BY node)
"""


def _descendants_cte(root_uri: str) -> str:
    return f"""
descendants AS (
  SELECT CAST('{root_uri}' AS STRING) AS node, 0 AS depth
  UNION
  SELECT e.subj, d.depth + 1
  FROM descendants d JOIN kg e
    ON e.pred = '{GN}parentFeature' AND e.obj = d.node
),
des AS (SELECT node, MIN(depth) AS depth FROM descendants GROUP BY node)
"""


def _longest_cte(alias: str, pred: str, prefix: str, out: str) -> str:
    return f"""
{alias} AS (
  SELECT subj, name AS {out} FROM (
    SELECT subj, obj AS name,
           ROW_NUMBER() OVER (PARTITION BY subj ORDER BY obj) AS rn
    FROM (
      SELECT subj, obj,
             MAX(LENGTH(obj)) OVER (PARTITION BY subj) AS ml
      FROM kg
      WHERE pred = '{pred}' AND obj_lang IS NOT NULL AND obj_lang LIKE '{prefix}%'
    ) WHERE LENGTH(obj) = ml
  ) WHERE rn = 1
)
"""


_HAVERSINE = """
CAST(ROUND(
  2 * 6371008.8 * ASIN(SQRT(
    POW(SIN(RADIANS({lat2} - {lat1}) / 2), 2)
    + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))
      * POW(SIN(RADIANS({lon2} - {lon1}) / 2), 2)
  )), 0) AS BIGINT)
"""

SEED_PLACE = SWS + "110/"
SEED_ADM1 = SWS + "10/"
SEED_CITY = SWS + "66/"


def workload_sql() -> dict[str, str]:
    gn = GN
    hav = _HAVERSINE.format(
        lat1="c.city_lat", lon1="c.city_long",
        lat2="CAST(m.latitude AS DOUBLE)", lon2="CAST(m.longitude AS DOUBLE)",
    )
    return {
        "c1_scan_limit": (
            kg_cte() + "\nSELECT subj, pred, obj FROM kg"
                       " ORDER BY subj, pred, obj LIMIT 10"
        ),
        "c2_population_topk": (
            kg_cte() + ",\n" + _ENT.strip() + f"""
SELECT subj AS feature, name, CAST(population AS BIGINT) AS population,
       latitude, longitude
FROM ent
WHERE feature_code = '{gn}A.ADM4' AND CAST(population AS BIGINT) > 500000
"""
        ),
        "c3_municipalities": (
            kg_cte() + ",\n" + _ENT.strip() + f"""
SELECT subj AS feature, name, municipalityKey,
       CAST(population AS BIGINT) AS num, latitude, longitude
FROM ent
WHERE rdf_type = '{gn}Feature' AND parent = '{SEED_ADM1}'
  AND feature_code IS NOT NULL AND name IS NOT NULL
  AND municipalityKey IS NOT NULL AND population IS NOT NULL
  AND latitude IS NOT NULL AND longitude IS NOT NULL
"""
        ),
        "c4_ancestors": (
            kg_cte(recursive=True) + ",\n" + _ancestors_cte(SEED_PLACE).strip()
            + "\nSELECT node AS feature, depth FROM anc"
        ),
        "c4_descendants": (
            kg_cte(recursive=True) + ",\n" + _descendants_cte(SEED_ADM1).strip()
            + "\nSELECT node AS feature, depth FROM des"
        ),
        "c4_subdivision_edges": (
            kg_cte(recursive=True) + ",\n" + _descendants_cte(SEED_ADM1).strip()
            + ",\n" + _ENT.strip() + f"""
SELECT e.subj AS subject, e.parent AS object, e.name AS subjectLabel,
       p.name AS objectLabel
FROM ent e
LEFT JOIN ent p ON e.parent = p.subj
WHERE e.subj IN (SELECT node FROM des)
  AND e.feature_class = '{gn}A' AND e.parent IS NOT NULL
"""
        ),
        "c5_longest_names": (
            kg_cte() + f"""
SELECT 'official_en' AS branch, subj AS feature, obj AS name,
       obj_lang AS lang FROM (
  SELECT subj, obj, obj_lang,
         MAX(LENGTH(obj)) OVER (PARTITION BY subj) AS ml
  FROM kg
  WHERE pred = '{gn}officialName' AND obj_lang IS NOT NULL
    AND obj_lang LIKE 'en%'
) WHERE LENGTH(obj) = ml
UNION ALL
SELECT 'all_langs' AS branch, subj AS feature, obj AS name,
       obj_lang AS lang FROM (
  SELECT subj, obj, obj_lang,
         MAX(LENGTH(obj)) OVER (PARTITION BY subj, obj_lang) AS ml
  FROM kg
  WHERE pred = '{gn}officialName' AND obj_lang IS NOT NULL
) WHERE LENGTH(obj) = ml
"""
        ),
        "c8_hierarchy_report": (
            kg_cte(recursive=True) + ",\n" + _ancestors_cte(SEED_PLACE).strip()
            + ",\n" + _ENT.strip()
            + ",\n" + _longest_cte("off_en", gn + "officialName", "en", "official_en").strip()
            + ",\n" + _longest_cte("alt_en", gn + "alternateName", "en", "alt_en").strip()
            + ",\n" + _longest_cte("off_de", gn + "officialName", "de", "official_de").strip()
            + ",\n" + _longest_cte("alt_de", gn + "alternateName", "de", "alt_de").strip()
            + """
SELECT a.node AS feature,
       COALESCE(o1.official_en, a1.alt_en) AS name,
       COALESCE(o2.official_de, a2.alt_de) AS name_de,
       e.municipalityKey, e.feature_code AS featureCode,
       e.latitude, e.longitude, a.depth
FROM anc a
JOIN ent e ON a.node = e.subj
LEFT JOIN off_en o1 ON a.node = o1.subj
LEFT JOIN alt_en a1 ON a.node = a1.subj
LEFT JOIN off_de o2 ON a.node = o2.subj
LEFT JOIN alt_de a2 ON a.node = a2.subj
WHERE e.feature_code IS NOT NULL AND e.latitude IS NOT NULL
  AND e.longitude IS NOT NULL
"""
        ),
        "c9_museums_knn": (
            kg_cte() + ",\n" + _ENT.strip() + f""",
city AS (
  SELECT CAST(latitude AS DOUBLE) AS city_lat,
         CAST(longitude AS DOUBLE) AS city_long
  FROM ent WHERE subj = '{SEED_CITY}'
),
wiki AS (
  SELECT subj, MIN(obj) AS wikipediaArticle FROM kg
  WHERE pred = '{gn}wikipediaArticle'
    AND obj LIKE 'https://en.wikipedia.org%'
  GROUP BY subj
)
SELECT m.subj AS feature, m.name, m.latitude, m.longitude,
       {hav} AS distance_in_metre,
       w.wikipediaArticle
FROM ent m CROSS JOIN city c
LEFT JOIN wiki w ON m.subj = w.subj
WHERE m.parent = '{SEED_CITY}' AND m.feature_code = '{gn}S.MUS'
  AND m.name IS NOT NULL AND m.latitude IS NOT NULL
  AND m.longitude IS NOT NULL
"""
        ),
        "c12_code_labels": (
            kg_cte() + f"""
SELECT k.subj AS feature, k.obj AS code_iri, l.obj AS label
FROM kg k JOIN (
  SELECT subj, obj FROM kg
  WHERE pred = 'http://www.w3.org/2004/02/skos/core#prefLabel'
    AND obj_lang = 'en'
) l ON k.obj = l.subj
WHERE k.pred = '{gn}featureCode'
"""
        ),
        "c12_all_code_labels": (
            kg_cte() + f"""
SELECT c.code_iri, l.label, COALESCE(u.n_features, 0) AS n_features
FROM (
  SELECT subj AS code_iri FROM kg
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
    AND obj = '{gn}Code'
) c
LEFT JOIN (
  SELECT subj AS code_iri, obj AS label FROM kg
  WHERE pred = 'http://www.w3.org/2004/02/skos/core#prefLabel'
    AND obj_lang = 'en'
) l USING (code_iri)
LEFT JOIN (
  SELECT obj AS code_iri, COUNT(*) AS n_features FROM kg
  WHERE pred = '{gn}featureCode' GROUP BY obj
) u USING (code_iri)
"""
        ),
    }


# --- training-data-pipeline oracles (text / dedup / similarity) ------------

_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def _occ(expr: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (f"CAST((length({expr}) - length(replace({expr}, '{n}', '')))"
            f" / {len(needle)} AS INT)")


def _lm_decontam_sql(n_lm: int = 3, top_k: int = 500, n_dec: int = 13,
                     bench_mod: int = 17) -> str:
    """Oracle for the merged char-LM perplexity + benchmark
    decontamination row (textstats.train_char_lm / lm_perplexity +
    dedup.decontaminate): (doc_id, n_grams, avg_nll, ppl, n_contaminated,
    contaminated).

    The LM is retrained inside the query from the same corpus with the
    same top-k tie rule (count DESC, gram ASC); Laplace scoring
    P(c|prefix) = (c_n + 1)/(c_p + 256) replayed per position.  The
    decontamination twin joins on the GRAM STRING itself — Spark's
    xxhash64 of the gram is an implementation detail of the broadcast
    set, not part of the semantics."""
    toks = ("list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
            " x -> x <> '')")
    return f"""
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents),
pos AS (
  SELECT doc_id, unnest(
    CASE WHEN length(t) >= {n_lm}
         THEN [substr(t, CAST(i AS INT), {n_lm})
               for i in range(1, length(t) - {n_lm - 2})]
         ELSE [] END) AS g
  FROM norm),
lm_n AS (
  SELECT g, COUNT(*) AS c FROM pos GROUP BY g
  ORDER BY c DESC, g ASC LIMIT {top_k}),
posp AS (
  SELECT doc_id, unnest(
    CASE WHEN length(t) >= {n_lm - 1}
         THEN [substr(t, CAST(i AS INT), {n_lm - 1})
               for i in range(1, length(t) - {n_lm - 3})]
         ELSE [] END) AS g
  FROM norm),
lm_p AS (
  SELECT g, COUNT(*) AS c FROM posp GROUP BY g
  ORDER BY c DESC, g ASC LIMIT {top_k}),
sc AS (
  SELECT p.doc_id, COUNT(*) AS k,
         SUM(-ln((COALESCE(l3.c, 0) + 1.0)
                 / (COALESCE(l2.c, 0) + 256.0))) AS total
  FROM pos p
  LEFT JOIN lm_n l3 ON p.g = l3.g
  LEFT JOIN lm_p l2 ON substr(p.g, 1, {n_lm - 1}) = l2.g
  GROUP BY p.doc_id),
dtoks AS (SELECT doc_id, {toks} AS toks FROM documents),
bgrams AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(toks) >= {n_dec}
         THEN [array_to_string(toks[i+1:i+{n_dec}], ' ')
               for i in range(len(toks) - {n_dec - 1})]
         ELSE [] END) AS g
  FROM dtoks WHERE doc_id % {bench_mod} = 0),
dgrams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= {n_dec}
         THEN [array_to_string(toks[i+1:i+{n_dec}], ' ')
               for i in range(len(toks) - {n_dec - 1})]
         ELSE [] END) AS g
  FROM dtoks),
hits AS (
  SELECT doc_id, COUNT(DISTINCT g) AS n_contaminated
  FROM dgrams WHERE g IN (SELECT g FROM bgrams)
  GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(sc.k, 0) AS INT) AS n_grams,
       round(sc.total / sc.k, 4) AS avg_nll,
       round(exp(sc.total / sc.k), 4) AS ppl,
       CAST(COALESCE(hits.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(hits.n_contaminated, 0) > 0 AS contaminated
FROM documents d
LEFT JOIN sc ON d.doc_id = sc.doc_id
LEFT JOIN hits ON d.doc_id = hits.doc_id
"""


def _pack_sequences_sql(tok: str, seq_len: int = 96,
                        n_buckets: int = 4) -> str:
    """Oracle for packing.pack_sequences: bucket-parallel NEXT-FIT
    replayed with a recursive CTE — per bucket, rows advance in md5
    order carrying (cur_pack, cur_fill) state, exactly the two-integer
    state of the Arrow packer.  Base case is a synthetic rn=0 seed per
    bucket so the transition logic exists exactly once."""
    L = seq_len
    return f"""
WITH RECURSIVE sized AS (
  SELECT doc_id, {tok} AS n_tokens,
    CAST(('0x' || substr(md5('packb-' || CAST(doc_id AS VARCHAR)), 1, 15))
         ::UBIGINT % {n_buckets} AS INT) AS bucket,
    md5('pack-' || CAST(doc_id AS VARCHAR)) AS ord
  FROM documents),
ordered AS (
  SELECT doc_id, n_tokens, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ord) AS rn
  FROM sized),
st AS (
  SELECT bucket, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
         0 AS n_tokens, FALSE AS oversized,
         CAST(NULL AS BIGINT) AS assigned,
         CAST(0 AS BIGINT) AS cur_pack, CAST(0 AS BIGINT) AS cur_fill
  FROM (SELECT DISTINCT bucket FROM sized)
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
    o.n_tokens > {L} AS oversized,
    CASE WHEN o.n_tokens > {L} THEN
           CASE WHEN s.cur_fill > 0 THEN s.cur_pack + 1 ELSE s.cur_pack END
         WHEN s.cur_fill + o.n_tokens > {L} THEN s.cur_pack + 1
         ELSE s.cur_pack END AS assigned,
    CASE WHEN o.n_tokens > {L} THEN
           CASE WHEN s.cur_fill > 0 THEN s.cur_pack + 2 ELSE s.cur_pack + 1 END
         WHEN s.cur_fill + o.n_tokens > {L} THEN s.cur_pack + 1
         ELSE s.cur_pack END AS cur_pack,
    CASE WHEN o.n_tokens > {L} THEN 0
         WHEN s.cur_fill + o.n_tokens > {L} THEN o.n_tokens
         ELSE s.cur_fill + o.n_tokens END AS cur_fill
  FROM st s JOIN ordered o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, bucket,
       CAST(bucket AS BIGINT) * 1099511627776 + assigned AS pack_id,
       oversized
FROM st WHERE rn > 0
"""


# Noisy-URL page corpus for the WARC+URL oracle row (r06): primary
# captures under three URL shapes (tracking params + %xx + unsorted
# query + fragment / trailing slash / clean), plus a second capture of
# every doc_id % 5 == 0 page under a fourth noisy shape.  doc_id % 10
# == 0 dups are EARLIER than their primary (the dup wins), the rest are
# later (the primary wins) — both earliest-capture branches fire.
_WARC_EPOCH = 1704067200

# Per-domain cap for the warc+url oracle row: sits between the
# example.org / other-site.com canonical counts (~130 each at sf0.01)
# and the example.co.uk count (~270, two hosts on one registered
# domain), so the row exercises BOTH cap branches.
_DOMAIN_CAP = 150


def _warc_url_roundtrip_sql() -> str:
    """Oracle for the WARC write->read round trip COMPOSED with URL
    canonicalization + earliest-capture dedup + the r06 per-domain
    pipeline: the Spark side materializes the noisy-URL multi-host
    corpus as gzip'd WARC archives, parses it back, canonicalizes,
    dedups, extracts the registered domain, and flags a per-domain
    cap; the twin states what must come out.  WARC fidelity (headers,
    Content-Length framing, gzip, HTTP preamble), the full
    canonicalizer chain (including the r06 %XX-case and query-sort
    rules), the SUFFIX2 public-suffix boundary, and the cap's
    deterministic (ts, url) ordering are all on the hash path."""
    from geonames_rdf_spark.operators.domains import domain_oracle_expr
    from geonames_rdf_spark.operators.urls import url_oracle_expr

    e = _WARC_EPOCH
    return f"""
WITH hosted AS (
  SELECT doc_id, text, CASE doc_id % 4
    WHEN 0 THEN 'example.org'
    WHEN 1 THEN 'blog.example.co.uk'
    WHEN 2 THEN 'news.example.co.uk'
    ELSE 'other-site.com' END AS host
  FROM documents),
pages AS (
  SELECT CASE doc_id % 3
    WHEN 0 THEN 'HTTPS://WWW.' || upper(host) || ':443/doc/'
                || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=%7e1#frag'
    WHEN 1 THEN 'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR)
                || '/'
    ELSE 'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR)
    END AS url,
    CAST(({e} + doc_id) * 1000000 AS BIGINT) AS ts_us,
    text
  FROM hosted
  UNION ALL
  SELECT 'HTTPS://WWW.' || upper(host) || ':443/doc/'
         || CAST(doc_id AS VARCHAR) || '///' AS url,
    CAST(({e} + doc_id + CASE WHEN doc_id % 10 = 0 THEN -50 ELSE 100 END)
         * 1000000 AS BIGINT) AS ts_us,
    'dup ' || text AS text
  FROM hosted WHERE doc_id % 5 = 0
),
canon AS (
  SELECT url, {url_oracle_expr('url')} AS url_canonical, ts_us, text
  FROM pages
),
kept AS (
  SELECT url, url_canonical, ts_us, text FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY url_canonical ORDER BY ts_us ASC, url ASC) AS rn
    FROM canon
  ) WHERE rn = 1
)
SELECT url, url_canonical, domain,
       drn <= {_DOMAIN_CAP} AS domain_kept,
       n_docs, round(n_docs / CAST(total AS DOUBLE), 6) AS domain_share,
       ts_us, text
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY domain ORDER BY ts_us ASC, url_canonical ASC) AS drn,
    COUNT(*) OVER (PARTITION BY domain) AS n_docs,
    COUNT(*) OVER () AS total
  FROM (SELECT *, {domain_oracle_expr('url_canonical')} AS domain
        FROM kept)
)
"""


def _dedup_lines_sql() -> str:
    """Oracle for operators.lines.dedup_lines + dedup_spans (r06/r07):
    the SAME grouped multi-line corpus the Spark row assembles (20 docs
    sharing an injected boilerplate header/footer, bodies = member
    texts in doc_id order), deduped by the independent window
    formulations in lines.dedup_lines_sql / dedup_spans_sql — global
    first-occurrence wins; branch 'lines' = line units with short lines
    exempt, branch 'spans3' = C4-faithful three-sentence spans."""
    from geonames_rdf_spark.operators.lines import (dedup_lines_sql,
                                                    dedup_spans_sql)

    grouped = """
SELECT doc_id % 20 AS doc_id,
       'COOKIE BANNER ACCEPT ALL' || chr(10) ||
       string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
       'CC-LICENSE FOOTER v1' AS text
FROM documents GROUP BY doc_id % 20
"""
    return (f"SELECT 'lines' AS branch, * FROM ("
            f"{dedup_lines_sql(grouped, min_chars=2)})"
            f" UNION ALL SELECT 'spans3' AS branch, * FROM ("
            f"{dedup_spans_sql(grouped, n_sentences=3)})")


def _kg_scoped_changelog_sql() -> str:
    """Oracle for pipeline.delta.scoped_changelog over the r06 dump
    mutation (``kg_prefix_mutated``): the FULL two-world changelog in
    SQL.  The Spark side computes the SCOPED changelog (builds
    pre-filtered to the input-diff affected superset), so a hash match
    here IS the scoped == full exactness proof, driver-checked — and it
    exercises every closure rule (feature, alt, hierarchy, ags).
    Ontology static block skipped on both sides (cancels by
    construction; mirrors scoped_changelog's include_ontology=False)."""
    cols = "subj, pred, obj, obj_is_iri, obj_lang, obj_dt"
    old_q = kg_sql(ontology=False)
    new_q = kg_sql(ontology=False, prefix=kg_prefix_mutated())
    return f"""
SELECT 'add' AS op, {cols} FROM (
  SELECT {cols} FROM ({new_q}) EXCEPT ALL SELECT {cols} FROM ({old_q}))
UNION ALL
SELECT 'del' AS op, {cols} FROM (
  SELECT {cols} FROM ({old_q}) EXCEPT ALL SELECT {cols} FROM ({new_q}))
"""


def _chunk_documents_sql(max_tokens: int = 32, overlap: int = 8) -> str:
    """Oracle for packing.chunk_documents: the same window math via
    generate_series + list slicing (also the pytest parity twin — one
    rendering, two consumers)."""
    stride = max_tokens - overlap
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE text IS NOT NULL
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM t
  WHERE len(toks) > 0 AND NOT (len(toks) = 1 AND toks[1] = '')
), st AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n - 1, {stride})) AS start
  FROM sized
)
SELECT doc_id, CAST(start / {stride} AS INT) AS chunk_id,
       CAST(least({max_tokens}, n - start) AS INT) AS n_tokens,
       array_to_string(toks[start + 1 : start + {max_tokens}], ' ')
         AS chunk_text
FROM st WHERE start = 0 OR start + {overlap} < n
"""


def tdp_sql() -> dict[str, str]:
    """DuckDB twins for the oracle-checkable training-data operators."""
    tok = ("CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 "
           "ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT)")
    strip = lambda pat: (  # noqa: E731
        f"length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"
    )
    stop_hits = " + ".join(
        _occ("(' ' || text || ' ')", w) for w in _MARKERS["en"]
    )
    strip_punct = strip(r"[^\p{L}\p{N}\s]")
    strip_digit = strip("[^0-9]")
    strip_upper = strip("[^A-Z]")
    quality_features = f"""
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  {tok} AS n_tokens,
  round(length(text) / greatest({tok}, 1), 4) AS mean_token_len,
  round(({strip_punct}) / greatest(length(text), 1), 4) AS punct_ratio,
  round(({strip_digit}) / greatest(length(text), 1), 4) AS digit_ratio,
  round(({strip_upper}) / greatest(length(text), 1), 4) AS upper_ratio,
  round(({stop_hits}) / greatest({tok}, 1), 4) AS stopword_ratio
FROM documents
"""
    lang_scores = {
        lang: " + ".join(
            _occ("(' ' || lower(text) || ' ')", w) for w in ws
        )
        for lang, ws in _MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _MARKERS) + ")"
    lang_case = "'und'"
    for lang in sorted(_MARKERS, reverse=True):
        lang_case = (f"CASE WHEN s_{lang} > 0 AND s_{lang} = {best} "
                     f"THEN '{lang}' ELSE {lang_case} END")
    lang_id = f"""
SELECT doc_id, {lang_case} AS lang_pred, CAST({best} AS INT) AS marker_hits
FROM (
  SELECT doc_id,
    {", ".join(f"({expr}) AS s_{lang}" for lang, expr in lang_scores.items())}
  FROM documents
)
"""
    dedup_exact = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM all_docs GROUP BY md5(text)
"""
    cosine = ("round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
              "q.qv), 6)")
    ann_topk = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT e.vec_id, {cosine} AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY cosine DESC, e.vec_id ASC
LIMIT 10
"""
    knn_label = """
SELECT id_a, id_b, cosine, CAST(rn AS INT) AS rn FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])), 6) AS cosine,
    ROW_NUMBER() OVER (PARTITION BY a.vec_id
                       ORDER BY round(list_cosine_similarity(
                         CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])), 6) DESC,
                       b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
) WHERE rn <= 3
"""
    quality_expr = f"""round(
    least({tok} / 50.0, 1.0) * 0.4
    + (1 - least(round(({strip_punct}) / greatest(length(text), 1), 4) * 5, 1.0)) * 0.2
    + (1 - least(round(({strip_digit}) / greatest(length(text), 1), 4) * 5, 1.0)) * 0.2
    + least(round(({stop_hits}) / greatest({tok}, 1), 4) * 10, 1.0) * 0.2,
  6)"""
    quality_score = f"""
SELECT doc_id,
  {quality_expr} AS quality
FROM documents
"""
    lang_hits = {
        lang: " + ".join(_occ("(' ' || lower(text) || ' ')", w) for w in ws)
        for lang, ws in _MARKERS.items()
    }
    lang_hits_case = ("CASE lang " + " ".join(
        f"WHEN '{lang}' THEN ({expr})"
        for lang, expr in sorted(lang_hits.items())) + " ELSE 0 END")
    lang_stopword = f"""
SELECT doc_id, lang, CAST({lang_hits_case} AS INT) AS marker_hits,
  round(({lang_hits_case}) / greatest({tok}, 1), 4) AS stopword_ratio
FROM documents
"""
    corpus_composition = f"""
WITH q AS ({quality_score.strip()}),
b AS (SELECT doc_id, source, lang, {tok} AS tk FROM documents)
SELECT b.source, b.lang, COUNT(*) AS n_docs,
  CAST(SUM(b.tk) AS BIGINT) AS total_tokens,
  CAST(SUM(CAST(round(q.quality * 1e6, 0) AS BIGINT)) AS BIGINT)
    AS quality_micro_sum,
  round(CAST(SUM(CAST(round(q.quality * 1e6, 0) AS BIGINT)) AS BIGINT)
        / (COUNT(*) * 1e6), 6) AS mean_quality
FROM b JOIN q USING (doc_id)
GROUP BY b.source, b.lang
"""

    def _rate_case(col: str) -> str:
        from geonames_rdf_spark.operators import sampling

        return ("CASE " + col + " " + " ".join(
            f"WHEN '{k}' THEN {sampling.DEMO_RATES[k]!r}"
            for k in sorted(sampling.DEMO_RATES))
            + f" ELSE {sampling.DEMO_DEFAULT_RATE!r} END")

    def _sample_stratified_sql() -> str:
        from geonames_rdf_spark.operators import sampling

        return (f"SELECT doc_id, source FROM documents"
                f" WHERE {sampling.uniform_hash_sql('doc_id')}"
                f" < {_rate_case('source')}")

    def _curate_sql() -> str:
        from geonames_rdf_spark.operators import sampling

        return f"""
WITH all_docs AS (
  SELECT doc_id, text, source, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, source, lang
  FROM documents WHERE doc_id % 3 = 0
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)),
q AS (SELECT doc_id, {quality_expr} AS quality FROM all_docs)
SELECT d.doc_id, d.source, d.lang, q.quality
FROM all_docs d JOIN keep USING (doc_id) JOIN q USING (doc_id)
WHERE q.quality >= 0.4
  AND {sampling.uniform_hash_sql('d.doc_id')} < {_rate_case('d.source')}
"""

    # --- merged rows (r05): the driver records at most 50 queries, so
    # related single-purpose rows share one row each — quality features +
    # score + Gopher repetition; both fingerprints; both language
    # signals.  Zero coverage lost; the freed rows carry the r04
    # operators (LM+decontam, packing, WARC, delta changelog).
    # r06 merge: PII redaction joins the quality row (driver 50-row cap).
    # Counts/redaction run over the PII-INJECTED corpus (the raw corpus
    # is PII-free — counts would all be 0 and prove nothing); quality
    # features stay on the original text.
    from geonames_rdf_spark.operators import privacy

    pii_sql = privacy.pii_oracle_sql(table=privacy.inject_pii_sql())
    words = ("list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
             " x -> x <> '')")
    lines = "list_filter(string_split(text, chr(10)), x -> trim(x) <> '')"
    quality_repetition = f"""
WITH qf AS ({quality_features.strip()}),
qs AS ({quality_score.strip()}),
w AS (SELECT doc_id, {words} AS toks, {lines} AS lins FROM documents),
base AS (
  SELECT doc_id,
    CASE WHEN len(lins) > 0
         THEN round(1 - len(list_distinct(lins)) / len(lins), 4)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN len(toks) > 0
         THEN round(1 - len(list_distinct(toks)) / len(toks), 4)
         ELSE 0.0 END AS dup_word_frac
  FROM w),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2
         THEN [toks[i+1] || ' ' || toks[i+2] for i in range(len(toks)-1)]
         ELSE [] END) AS g
  FROM w),
shares AS (
  SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_share
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
  GROUP BY doc_id)
SELECT qf.*, qs.quality, base.dup_line_frac, base.dup_word_frac,
       COALESCE(shares.top_bigram_share, 0.0) AS top_bigram_share,
       p.text_redacted, p.n_email, p.n_ssn, p.n_ipv4, p.n_phone, p.n_pii
FROM qf JOIN qs USING (doc_id) JOIN base USING (doc_id)
LEFT JOIN shares USING (doc_id)
JOIN ({pii_sql}) p USING (doc_id)
"""
    fingerprints = """
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    AS fingerprint FROM documents),
rfp AS (
  SELECT doc_id,
    list_min([md5(substr(t, CAST(i AS INT), 16))
              for i in range(1, greatest(length(t) - 15, 1) + 1)])
      AS rolling_fingerprint
  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
          AS t FROM documents))
SELECT fp.doc_id, fp.fingerprint, rfp.rolling_fingerprint
FROM fp JOIN rfp USING (doc_id)
"""
    lang_signals = f"""
WITH li AS ({lang_id.strip()}),
ls AS ({lang_stopword.strip()})
SELECT li.doc_id, li.lang_pred, li.marker_hits AS pred_marker_hits,
       ls.lang, ls.marker_hits AS lang_marker_hits, ls.stopword_ratio
FROM li JOIN ls USING (doc_id)
"""
    return {
        **neardup_sql(),
        "text_quality_features": quality_repetition,
        "text_fingerprints": fingerprints,
        "text_lang_signals": lang_signals,
        "text_lm_decontam": _lm_decontam_sql(),
        "pack_sequences": _pack_sequences_sql(tok),
        "warc_url_roundtrip": _warc_url_roundtrip_sql(),
        "dedup_lines": _dedup_lines_sql(),
        "kg_scoped_changelog": _kg_scoped_changelog_sql(),
        "chunk_documents": _chunk_documents_sql(),
        "corpus_composition": corpus_composition,
        "sample_stratified": _sample_stratified_sql(),
        "curate_corpus": _curate_sql(),
        # whitespace + BPE-ish counts + OOV signals in one row (merged
        # r04/r06 — driver caps at 50 recorded queries); same BPE
        # pre-tokenizer regex: RE2 (DuckDB) and Java regex (Spark) agree
        # on this lookahead-free subset
        "text_token_counts": f"""
WITH tc AS (
  SELECT doc_id, {tok} AS n_tokens,
    CAST(len(regexp_extract_all(COALESCE(text, ''), $$'(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+$$)) AS INT)
      AS n_bpe_tokens
  FROM documents
),
toks AS (
  SELECT doc_id, t.tok FROM documents,
    LATERAL unnest(list_filter(
      string_split_regex(trim(COALESCE(text, '')), '\\s+'),
      x -> x <> '')) AS t(tok)
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS rn
    FROM toks GROUP BY tok
  ) WHERE rn <= 10
),
per_doc AS (
  SELECT t.doc_id,
         SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
  GROUP BY t.doc_id
)
SELECT tc.doc_id, tc.n_tokens, tc.n_bpe_tokens,
       CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
       round(COALESCE(p.n_oov, 0) / greatest(tc.n_tokens, 1), 4)
         AS oov_rate
FROM tc LEFT JOIN per_doc p USING (doc_id)
""",
        "dedup_exact": dedup_exact,
        "ann_cosine_topk": ann_topk,
        "ann_knn_per_label": knn_label,
    }


# --- web-pipeline oracles ---------------------------------------------------
#
# The north-star path (synthesize pages -> Aho-Corasick mention scan ->
# candidate scoring -> argmax link -> mention triples) replayed in pure
# SQL: the page corpus is a pure arithmetic function of the page id
# (pipeline/corpus.py), the mention scan is "all occurrences of every
# gazetteer surface with word-boundary guards" (an AC automaton is an
# *algorithm* for that spec, not part of its semantics), and the linker is
# a deterministic argmax.  Verified row-identical to the Spark pipeline.

_CORPUS_MIX = 2654435761  # pipeline/corpus.py MIX (Knuth constant)
_N_PAGES = 500            # __spark_entry__ pipeline queries use n_pages=500


def _mix_step(h: str, x: str) -> str:
    return (f"((xor(({h})::BIGINT, ({x})::BIGINT)::HUGEINT"
            f" * {_CORPUS_MIX}) % 4294967296)::BIGINT")


def _pages_ctes(n_pages: int = _N_PAGES) -> str:
    """CTEs: gazetteer surfaces -> deterministic page corpus -> mention
    occurrences (begin offsets with word-boundary guards).  Appends to
    ``kg_prefix()`` (needs the ``fbn`` CTE)."""
    r = _mix_step(_mix_step(_mix_step("0", "i"), "j"), "17")
    return f"""
surf AS (
  SELECT DISTINCT bestName FROM fbn
  WHERE bestName IS NOT NULL AND bestName <> ''
),
toplist AS (
  SELECT list(bestName ORDER BY bestName) AS sl
  FROM (SELECT bestName FROM surf ORDER BY bestName LIMIT 5000)
),
pagemid AS (
  SELECT i, ['en','en','en','de','fr'][CAST(i % 5 AS INT) + 1] AS lang,
    array_to_string(
      [CASE WHEN {r} % 10 < 4 THEN t.sl[CAST({r} % 2 AS INT) + 1]
            ELSE t.sl[CAST({r} % len(t.sl) AS INT) + 1] END
       for j in range(2 + (i % 3))], ' and ') AS m
  FROM (SELECT unnest(range({n_pages})) AS i) CROSS JOIN toplist t
),
pages AS (
  SELECT 'https://example.org/' || lang || '/page-' || CAST(i AS VARCHAR)
           || '.html' AS url,
    lang,
    CASE lang
      WHEN 'en' THEN 'Page ' || CAST(i AS VARCHAR) || ' reports on ' || m
        || '. Officials said the plan was fine.'
      WHEN 'de' THEN 'Seite ' || CAST(i AS VARCHAR) || ' berichtet ueber '
        || m || '. Beamte nannten den Plan gut.'
      ELSE 'La page ' || CAST(i AS VARCHAR) || ' parle de ' || m
        || '. Les autorites ont approuve le plan.'
    END AS text
  FROM pagemid
),
occ AS (
  SELECT p.url, p.lang, p.text, s.bestName AS surface,
    unnest([pos - 1 for pos in range(1, length(p.text) - length(s.bestName) + 2)
            if substr(p.text, CAST(pos AS INT), length(s.bestName)) = s.bestName
            AND (pos = 1 OR NOT regexp_matches(
                  substr(p.text, CAST(pos AS INT) - 1, 1), '[a-zA-Z0-9]'))
            AND (pos + length(s.bestName) > length(p.text)
                 OR NOT regexp_matches(
                      substr(p.text, CAST(pos + length(s.bestName) AS INT), 1),
                      '[a-zA-Z0-9]'))
           ]) AS begin
  FROM pages p JOIN surf s ON contains(p.text, s.bestName)
)
"""


_SCORED_CTE = """
scored AS (
  SELECT o.url, o.surface, o.begin, o.begin + length(o.surface) AS e_end,
         f.geonameid,
         round(log10(COALESCE(f.population, 0) + 1), 6)
         + CASE WHEN f.country_code =
                     ('C' || CASE o.lang WHEN 'en' THEN '0' WHEN 'de' THEN '1'
                                         WHEN 'fr' THEN '2' END)
                THEN 2.0 ELSE 0.0 END AS s
  FROM occ o JOIN fbn f ON o.surface = f.bestName
)
"""

_LINKED_BODY = """
SELECT url, surface, CAST(begin AS INT) AS begin, CAST(e_end AS INT) AS "end",
       geonameid, round(s, 6) AS score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url, begin, surface
                                   ORDER BY s DESC, geonameid ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def _canonical_map_sql() -> str:
    """Oracle for the S5 canonicalization map: the Spark side runs
    sameAs-star-edges -> iterative hash-min connected components; the
    oracle derives the identical map DIRECTLY from the duplicate rule
    (min geonameid per (bestName, country_code, lat, long) key over the
    id-shifted duplicate union) — an algorithm-independent second path."""
    return kg_prefix() + """,
fbn_dup AS (
  SELECT geonameid, bestName, country_code, latitude, longitude FROM fbn
  UNION ALL
  SELECT geonameid + 5000000, bestName, country_code, latitude, longitude
  FROM fbn
),
grp AS (
  SELECT geonameid,
         MIN(geonameid) OVER (PARTITION BY bestName, country_code,
                              latitude, longitude) AS canonical,
         COUNT(*) OVER (PARTITION BY bestName, country_code,
                        latitude, longitude) AS n
  FROM fbn_dup
)
SELECT geonameid, canonical FROM grp WHERE n > 1
"""


def pipeline_sql() -> dict[str, str]:
    mentions = (
        kg_prefix() + ",\n" + _pages_ctes().strip() + """
SELECT o.url, o.surface, CAST(o.begin AS INT) AS begin,
       CAST(o.begin + length(o.surface) AS INT) AS "end",
       f.geonameid AS candidate, o.lang
FROM occ o JOIN (SELECT DISTINCT bestName, geonameid FROM fbn) f
  ON o.surface = f.bestName
"""
    )
    linked = (
        kg_prefix() + ",\n" + _pages_ctes().strip() + ",\n"
        + _SCORED_CTE.strip() + _LINKED_BODY
    )
    triples = (
        kg_cte() + ",\n" + _pages_ctes().strip() + ",\n"
        + _SCORED_CTE.strip() + """,
linked AS (
  SELECT url, geonameid
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url, begin, surface
                                     ORDER BY s DESC, geonameid ASC) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT subj, pred, obj, obj_is_iri, obj_lang, obj_dt FROM kg
UNION ALL
SELECT DISTINCT url AS subj,
       'http://www.geonames.org/ontology#locatedIn' AS pred,
       'https://sws.geonames.org/' || CAST(geonameid AS VARCHAR) || '/' AS obj,
       TRUE AS obj_is_iri, CAST(NULL AS VARCHAR) AS obj_lang,
       CAST(NULL AS VARCHAR) AS obj_dt
FROM linked
"""
    )
    linked_canonical = (
        kg_prefix() + ",\n" + _pages_ctes().strip() + ",\n"
        + _SCORED_CTE.strip() + """,
linked AS (
  SELECT url, surface, CAST(begin AS INT) AS begin,
         CAST(e_end AS INT) AS "end",
         geonameid + 5000000 AS geonameid, round(s, 6) AS score
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY url, begin, surface
                                     ORDER BY s DESC, geonameid ASC) AS rn
        FROM scored)
  WHERE rn = 1
),
fbn_dup AS (
  SELECT geonameid, bestName, country_code, latitude, longitude FROM fbn
  UNION ALL
  SELECT geonameid + 5000000, bestName, country_code, latitude, longitude
  FROM fbn
),
cmap AS (
  SELECT geonameid, canonical FROM (
    SELECT geonameid,
           MIN(geonameid) OVER (PARTITION BY bestName, country_code,
                                latitude, longitude) AS canonical,
           COUNT(*) OVER (PARTITION BY bestName, country_code,
                          latitude, longitude) AS n
    FROM fbn_dup
  ) WHERE n > 1
)
SELECT l.url, l.surface, l.begin, l."end",
       COALESCE(m.canonical, l.geonameid) AS geonameid, l.score
FROM linked l LEFT JOIN cmap m ON l.geonameid = m.geonameid
"""
    )
    return {
        "pipeline_mentions": mentions,
        "pipeline_linked": linked,
        "pipeline_kg_triples": triples,
        "pipeline_canonical_map": _canonical_map_sql(),
        "pipeline_linked_canonical": linked_canonical,
    }


# --- near-dup / ANN oracles -------------------------------------------------
#
# All hashing in operators/dedup.py and operators/similarity.py is
# md5-derived specifically so a second engine can replay it.  The SQL here
# re-implements the algorithms (MinHash banding, SimHash sign-sum,
# hyperplane LSH, IVF coarse quantization) from the same md5 primitive —
# DuckDB has md5() + bit ops + list lambdas, nothing else is needed.

MERSENNE = (1 << 31) - 1


def _h64_py(s: str) -> int:
    """Same seed derivation as operators.dedup._h64 (spec constant)."""
    return struct.unpack("<Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


def _h64_sql(expr: str) -> str:
    """Little-endian first-8-bytes-of-md5 as UBIGINT, pure SQL.

    byte_i = hex pair i of md5; value = sum byte_i * 256^i.  Verified
    bit-identical to the Python/numpy implementation.
    """
    terms = []
    for i in range(8):
        hi = f"(strpos('0123456789abcdef', substr(md5({expr}), {2 * i + 1}, 1)) - 1)"
        lo = f"(strpos('0123456789abcdef', substr(md5({expr}), {2 * i + 2}, 1)) - 1)"
        terms.append(f"(({hi}*16 + {lo})::UBIGINT * {1 << (8 * i)}::UBIGINT)")
    return "(" + " + ".join(terms) + ")"


_TOKS = "list_filter(string_split_regex(COALESCE(text, ''), '\\s+'), t -> t <> '')"


def _simhash_sql() -> str:
    """Oracle for dedup.simhash_near_dups over documents + ' x' variants."""
    return f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' x' FROM documents
),
tok AS (
  SELECT doc_id, unnest({_TOKS}) AS t FROM all_docs
),
th AS (SELECT doc_id, {_h64_sql('t')} AS h FROM tok),
bits AS (
  SELECT doc_id, bb.b AS b,
         SUM(CASE WHEN (h >> bb.b::UBIGINT) & 1::UBIGINT = 1::UBIGINT
                  THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bb
  GROUP BY doc_id, bb.b
),
shx AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << b::INT)
                  ELSE 0::HUGEINT END)::HUGEINT AS shu
  FROM bits GROUP BY doc_id
),
sh2 AS (
  SELECT d.doc_id, COALESCE(s.shu, 0::HUGEINT)::UBIGINT AS shu
  FROM all_docs d LEFT JOIN shx s USING (doc_id)
),
chunks AS (
  SELECT doc_id, shu, ii.i AS chunk_idx,
         (shu >> (16*ii.i)::UBIGINT) & 65535::UBIGINT AS chunk
  FROM sh2 CROSS JOIN (SELECT unnest(range(4)) AS i) ii
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.shu AS sha, b.doc_id AS id_b, b.shu AS shb
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
"""


def _minhash_sql() -> str:
    """Oracle for dedup.minhash_near_dups + the ngram_jaccard verify
    stage over documents + near variants (merged r05: block-then-verify
    as ONE row — (id_a, id_b, est_jaccard, jaccard)).

    Candidate generation groups on the exact band 4-tuple instead of the
    xxhash64 bucket id Spark shuffles on — identical pair set barring a
    64-bit hash collision between distinct tuples.  The Spark side's
    exact-signature pre-collapse is a work-shape optimization with
    identical output, so the oracle needs no equivalent.
    """
    params = ", ".join(
        f"({i}, {1 | _h64_py(f'minhash-a-{i}') % MERSENNE},"
        f" {_h64_py(f'minhash-b-{i}') % MERSENNE})"
        for i in range(64)
    )
    agree = "len(list_filter(range(64), j -> sa[j+1] = sb[j+1]))"
    return f"""
WITH RECURSIVE all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text || ' trailing token' FROM documents
),
params(i, a, b) AS (VALUES {params}),
toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM all_docs
),
shing AS (
  SELECT doc_id,
    CASE WHEN len(tk) = 0 THEN []
         WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         ELSE list_distinct(
           [array_to_string(tk[i+1:i+3], ' ') for i in range(len(tk)-2)])
    END AS shl
  FROM toks
),
xs AS (
  SELECT doc_id,
    CASE WHEN len(shl) = 0 THEN [0::UBIGINT]
         ELSE list_transform(shl, s -> {_h64_sql('s')} % {MERSENNE}::UBIGINT)
    END AS xl
  FROM shing
),
xrow AS (SELECT doc_id, unnest(xl) AS x FROM xs),
sigrow AS (
  SELECT doc_id, p.i AS i,
         MIN((p.a::UBIGINT * x + p.b::UBIGINT) % {MERSENNE}::UBIGINT)::BIGINT AS s
  FROM xrow CROSS JOIN params p GROUP BY doc_id, p.i
),
sigs AS (SELECT doc_id, list(s ORDER BY i) AS sig FROM sigrow GROUP BY doc_id),
banded AS (
  SELECT doc_id, sig, bb.b AS band,
         array_to_string(sig[4*bb.b+1:4*bb.b+4], ',') AS key
  FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS b) bb
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.sig AS sa, b.doc_id AS id_b, b.sig AS sb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
nd AS (
  SELECT id_a, id_b, round({agree} / 64.0, 4) AS est_jaccard
  FROM cand WHERE round({agree} / 64.0, 4) >= 0.5
),
j AS (
  SELECT nd.id_a, nd.id_b, nd.est_jaccard,
         len(list_filter(sa.shl, s -> list_contains(sb.shl, s))) AS inter,
         len(sa.shl) + len(sb.shl)
           - len(list_filter(sa.shl, s -> list_contains(sb.shl, s))) AS uni
  FROM nd
  JOIN shing sa ON nd.id_a = sa.doc_id
  JOIN shing sb ON nd.id_b = sb.doc_id
),
final AS (
  SELECT id_a, id_b, est_jaccard,
         CASE WHEN uni = 0 THEN 1.0 ELSE round(inter / uni, 4) END AS jaccard
  FROM j
),
-- r06 cluster consolidation twin: reachability closure (recursive CTE)
-- over the SAME pair set, cluster = min reachable id — an
-- algorithm-independent second path to the Spark side's hash-min
-- pointer-doubling connected components
pnodes AS (
  SELECT id_a AS node FROM final UNION SELECT id_b FROM final
),
pedges AS (
  SELECT id_a AS src, id_b AS dst FROM final
  UNION ALL SELECT id_b, id_a FROM final
),
reach AS (
  SELECT node, node AS r FROM pnodes
  UNION
  SELECT reach.node, e.dst FROM reach JOIN pedges e ON e.src = reach.r
),
comp AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)
SELECT f.id_a, f.id_b, f.est_jaccard, f.jaccard, c.cluster
FROM final f JOIN comp c ON f.id_a = c.node
"""


def _embedding_neardup_sql(planes: int = 16, dim: int = 64,
                           threshold: float = 0.99) -> str:
    """Oracle for dedup.embedding_near_dups (hyperplane LSH + cosine)."""
    from geonames_rdf_spark.operators.similarity import _unit

    bits = []
    for i in range(planes):
        arr = "[" + ", ".join(repr(v) for v in _unit(i, dim)) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << i} ELSE 0 END"
        )
    bucket = "(" + " + ".join(bits) + ")"
    return f"""
WITH all_e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
),
sig AS (SELECT vec_id, v, {bucket} AS bucket FROM all_e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
"""


def _ann_ivf_sql(n_cells: int = 8, nprobe: int = 3, k: int = 10,
                 dim: int = 64) -> str:
    """Oracle for similarity.ann_ivf_topk with the FIXED deterministic
    centroids (similarity.fixed_centroids) — no Lloyd training, so the
    whole probe is replayable: assign = first-index argmin of squared L2,
    probe = nprobe nearest cells to the query, exact cosine re-rank."""
    from geonames_rdf_spark.operators.similarity import fixed_centroids

    cents = fixed_centroids(n_cells, dim)
    cl = "[" + ", ".join(
        "[" + ", ".join(repr(v) for v in c) + "]::DOUBLE[]" for c in cents
    ) + "]"
    sqd = ("list_transform({cl}, c -> list_sum(list_transform(range({dim}),"
           " j -> ({v}[j+1] - c[j+1]) * ({v}[j+1] - c[j+1]))))")
    return f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
cell AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         {sqd.format(cl=cl, dim=dim, v="CAST(e.embedding AS DOUBLE[])")} AS dl
  FROM embeddings e
),
qd AS (SELECT {sqd.format(cl=cl, dim=dim, v="qv")} AS dl FROM q),
probe AS (
  SELECT i FROM (
    SELECT unnest(range({n_cells})) AS i, unnest(dl) AS d FROM qd
  ) ORDER BY d, i LIMIT {nprobe}
)
SELECT c.vec_id, round(list_cosine_similarity(c.v, q.qv), 6) AS cosine
FROM cell c CROSS JOIN q
WHERE list_indexof(c.dl, list_min(c.dl)) - 1 IN (SELECT i FROM probe)
ORDER BY cosine DESC, c.vec_id ASC
LIMIT {k}
"""


def _ann_lsh_sql(planes: int = 8, dim: int = 64, k: int = 10,
                 probe_hamming: int = 3) -> str:
    """Oracle for similarity.ann_lsh_topk (multi-probe hyperplane LSH)."""
    from geonames_rdf_spark.operators.similarity import _unit

    def bucket(col: str) -> str:
        bits = []
        for i in range(planes):
            arr = "[" + ", ".join(repr(v) for v in _unit(i, dim)) + "]::DOUBLE[]"
            bits.append(
                f"CASE WHEN list_dot_product({col}, {arr}) > 0"
                f" THEN {1 << i} ELSE 0 END"
            )
        return "(" + " + ".join(bits) + ")"

    return f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
qb AS (SELECT {bucket("qv")} AS qbucket FROM q),
sig AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {bucket("CAST(embedding AS DOUBLE[])")} AS bucket
  FROM embeddings
)
SELECT s.vec_id, round(list_cosine_similarity(s.v, q.qv), 6) AS cosine
FROM sig s CROSS JOIN q CROSS JOIN qb
WHERE bit_count(xor(s.bucket::BIGINT, qb.qbucket::BIGINT)) <= {probe_hamming}
ORDER BY cosine DESC, s.vec_id ASC
LIMIT {k}
"""


def neardup_sql() -> dict[str, str]:
    return {
        "dedup_simhash": _simhash_sql(),
        # merged r05: est_jaccard + exact ngram-jaccard verify in one row
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_embedding_cosine": _embedding_neardup_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "ann_lsh_topk": _ann_lsh_sql(),
    }


def streaming_sql() -> dict[str, str]:
    """DuckDB twins for the batch halves of the streaming layer."""
    props = """
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k FROM events)
GROUP BY event_type
"""
    windowed = """
SELECT CAST(date_trunc('hour', ts) AS STRING) AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""
    sessionize = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props, session_seq,
       CAST(user_id AS STRING) || '-' || CAST(session_seq AS STRING) AS session_id
FROM (
  SELECT *, CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM (
    SELECT *, CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END AS new_session
    FROM (
      SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
  )
)
"""
    # exact discrete quantiles: Spark percentile_approx at accuracy >=
    # group size == DuckDB quantile_disc (verified empirically at sf0.01)
    approx = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
       quantile_disc(value, 0.5) AS q50,
       quantile_disc(value, 0.95) AS q95,
       quantile_disc(value, 0.99) AS q99,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""
    return {
        "events_windowed_stats": windowed,
        "events_sessionize": sessionize,
        "events_approx_stats": approx,
        "events_props_stats": props,
    }
