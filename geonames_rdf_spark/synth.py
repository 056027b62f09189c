"""Deterministic GeoNames-style gazetteer derived from the driver testdata.

The driver's correctness gate runs each Spark query against a DuckDB oracle
over the same parquet tables (``region nation customer supplier part orders
lineitem events documents embeddings``). The KG-construction engine, however,
operates on GeoNames-shaped inputs (features, alternate names, hierarchy —
see ``/root/reference/config/headers-*.csv``). Bridge: derive those inputs
*deterministically* from ``customer`` and ``orders`` with engine-portable
ANSI SQL (integer arithmetic, string concat, CASE — bit-identical in Spark
and DuckDB). Both the Spark side and the oracle SQL build the gazetteer from
the same text, so every downstream mapping operator is oracle-checkable.

Derivation scheme over ``customer.c_custkey`` (= geonameid ``k``):

- k 0-4      -> 'A'/'PCLI' country features, country_code = 'C'||k
- k 5-19     -> 'A'/'ADM1'  (5 countries x 3 admin1 codes)
- k 20-49    -> 'A'/'ADM2'  (x 2 admin2 codes)
- k 50-79    -> 'A'/'ADM3'  (admin3 code '0')
- k 80-109   -> 'A'/'ADM4'  (admin4 code '0')
- k >= 110   -> 'S'/'MUS' when k%17=0 else 'P'/'PPL' populated places,
                with NONE/'' sentinel admin codes sprinkled to exercise the
                reference's guard branches (places.rq:112-117).

Edge-case rows (FIXTURES.md §2): population NULL (k%23=0, row dropped by the
required-column semantics of places.rq:56-63), population 0 (k%6=0, triple
dropped by consolidate.rq:34-37), elevation NULL (k%3=0), dem=-9999 (k%11=0,
alt triple dropped by consolidate.rq:40-53), admin3 'NONE'/'' sentinels
(k%7=0 / k%13=0), features with no admin1 (k%19=0 -> hierarchy fallback).

Alternate names derive from ``orders`` (o_orderkey -> alternateNameId,
o_custkey -> geonameid) covering every branch of alternateNames.rq:24-109:
en/de/fr/es tags, empty tag, 'link' wikipedia URLs (en and de, with and
without '%'), 'post' postal codes, 4-letter invalid tag, preferred and
short flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geonames_rdf_spark.session import ensure_parallel

# ---------------------------------------------------------------------------
# Engine-portable SQL fragments. Rules for portability (validated by
# tests/test_synth_parity.py): only  %  ||  CASE  CAST(x AS STRING/INT/BIGINT)
# FLOOR  DATE'lit' + int  arithmetic on ints -> bit-identical across engines.
# ---------------------------------------------------------------------------

FEATURES_SQL = """
SELECT
  k AS geonameid,
  'Feature ' || CAST(k AS STRING) AS name,
  CASE WHEN k % 4 = 0 THEN 'Gross Ort ' || CAST(k AS STRING) || ', Alpha'
       ELSE 'ort-' || CAST(k AS STRING) END AS asciiname,
  '' AS alternatenames,
  CAST((k * 37717) % 17000000 AS DOUBLE) / 100000 - 85.0 AS latitude,
  CAST((k * 73649) % 35000000 AS DOUBLE) / 100000 - 175.0 AS longitude,
  CASE WHEN k < 110 THEN 'A'
       WHEN k % 17 = 0 THEN 'S'
       ELSE 'P' END AS feature_class,
  CASE WHEN k < 5 THEN 'PCLI'
       WHEN k < 20 THEN 'ADM1'
       WHEN k < 50 THEN 'ADM2'
       WHEN k < 80 THEN 'ADM3'
       WHEN k < 110 THEN 'ADM4'
       WHEN k % 17 = 0 THEN 'MUS'
       ELSE 'PPL' END AS feature_code,
  CASE WHEN k < 5 THEN 'C' || CAST(k AS STRING)
       WHEN k < 20 THEN 'C' || CAST((k - 5) % 5 AS STRING)
       WHEN k < 50 THEN 'C' || CAST((k - 20) % 5 AS STRING)
       WHEN k < 80 THEN 'C' || CAST((k - 50) % 5 AS STRING)
       WHEN k < 110 THEN 'C' || CAST((k - 80) % 5 AS STRING)
       ELSE 'C' || CAST(k % 5 AS STRING) END AS country_code,
  '' AS cc2,
  CASE WHEN k < 5 THEN ''
       WHEN k < 20 THEN CAST(CAST(FLOOR((k - 5) / 5) AS INT) AS STRING)
       WHEN k < 50 THEN CAST(CAST(FLOOR((k - 20) / 5) AS INT) % 3 AS STRING)
       WHEN k < 80 THEN CAST(CAST(FLOOR((k - 50) / 5) AS INT) % 3 AS STRING)
       WHEN k < 110 THEN CAST(CAST(FLOOR((k - 80) / 5) AS INT) % 3 AS STRING)
       WHEN k % 19 = 0 THEN ''
       ELSE CAST(CAST(FLOOR(k / 5) AS INT) % 3 AS STRING) END AS admin1_code,
  CASE WHEN k < 20 THEN ''
       WHEN k < 50 THEN CAST(CAST(FLOOR((k - 20) / 15) AS INT) AS STRING)
       WHEN k < 80 THEN CAST(CAST(FLOOR((k - 50) / 15) AS INT) % 2 AS STRING)
       WHEN k < 110 THEN CAST(CAST(FLOOR((k - 80) / 15) AS INT) % 2 AS STRING)
       WHEN k % 19 = 0 THEN ''
       ELSE CAST(CAST(FLOOR(k / 15) AS INT) % 2 AS STRING) END AS admin2_code,
  CASE WHEN k < 50 THEN ''
       WHEN k < 110 THEN '0'
       WHEN k % 19 = 0 THEN ''
       WHEN k % 7 = 0 THEN 'NONE'
       WHEN k % 13 = 0 THEN ''
       ELSE '0' END AS admin3_code,
  CASE WHEN k < 80 THEN ''
       WHEN k < 110 THEN '0'
       WHEN k % 19 = 0 THEN ''
       WHEN k % 5 = 2 AND k % 7 <> 0 AND k % 13 <> 0 THEN '0'
       ELSE '' END AS admin4_code,
  CASE WHEN k % 23 = 0 THEN NULL
       WHEN k % 6 = 0 THEN 0
       ELSE (k * 7919) % 5000000 END AS population,
  CASE WHEN k % 3 = 0 THEN NULL ELSE CAST(k % 4000 AS INT) END AS elevation,
  CASE WHEN k % 11 = 0 THEN -9999 ELSE CAST(k % 3000 AS INT) END AS dem,
  'Etc/UTC' AS timezone,
  DATE '2020-01-01' + CAST(k % 1000 AS INT) AS modification_date
FROM (SELECT c_custkey AS k FROM customer)
"""

# Derived FK columns, exactly download.sh:87:
#   adm1 = $9"."$11   (always, even when admin1 code is empty)
#   adm2 = $12 != "" ? $9"."$11"."$12 : "NONE"
FEATURES_PLUS_SQL = """
SELECT f.*,
  f.country_code || '.' || f.admin1_code AS adm1,
  CASE WHEN f.admin2_code <> ''
       THEN f.country_code || '.' || f.admin1_code || '.' || f.admin2_code
       ELSE 'NONE' END AS adm2
FROM features f
"""

ALT_NAMES_SQL = """
SELECT
  o_orderkey AS alternateNameId,
  o_custkey AS geonameid,
  CASE o_orderkey % 9
    WHEN 0 THEN 'en' WHEN 1 THEN 'en' WHEN 2 THEN 'de' WHEN 3 THEN 'fr'
    WHEN 4 THEN '' WHEN 5 THEN 'link' WHEN 6 THEN 'post' WHEN 7 THEN 'abcd'
    ELSE 'es' END AS isolanguage,
  CASE
    WHEN o_orderkey % 9 = 5 THEN
      CASE
        WHEN o_orderkey % 7 = 0 THEN 'notaurl ' || CAST(o_orderkey AS STRING)
        WHEN o_orderkey % 2 = 0 THEN 'https://en.wikipedia.org/wiki/'
          || CASE WHEN o_orderkey % 4 = 0 THEN 'Title%20' ELSE 'Title ' END
          || CAST(o_orderkey AS STRING)
        ELSE 'https://de.wikipedia.org/wiki/Titel_' || CAST(o_orderkey AS STRING)
      END
    WHEN o_orderkey % 9 = 6 THEN CAST(10000 + o_orderkey % 90000 AS STRING)
    ELSE 'AltName ' || CAST(o_orderkey % 1000 AS STRING)
  END AS alternateName,
  CASE WHEN o_orderkey % 5 = 0 THEN '1' ELSE '' END AS isPreferredName,
  CASE WHEN o_orderkey % 13 = 0 THEN '1' ELSE '' END AS isShortName,
  '' AS isColloquial,
  '' AS isHistoric,
  '' AS valid_from,
  '' AS valid_to
FROM orders
"""

# Raw hierarchy edges; edges whose parent is NOT a country (parentId >= 1000)
# exist to exercise the country semi-join filter (download.sh:172-175).
HIERARCHY_SQL = """
SELECT
  CASE WHEN k % 20 = 1 THEN CAST(k % 5 AS BIGINT)
       ELSE CAST(1000000 + k AS BIGINT) END AS parentId,
  k AS childId,
  'ADM' AS type
FROM (SELECT c_custkey AS k FROM customer)
WHERE k % 10 = 1
"""

# Static admin1 -> AGS map (reference config/admin1_ags_map.txt:1-16 is a
# 16-row literal file; we synthesize an equivalent literal inline table).
AGS_MAP_SQL = """
SELECT CAST(a AS STRING) AS admin1_code, CAST(g AS STRING) AS ags
FROM (VALUES ('0', '01'), ('1', '02'), ('2', '03')) AS t(a, g)
"""

TABLE_SQL: dict[str, str] = {
    "features": FEATURES_SQL,
    "features_plus": FEATURES_PLUS_SQL,
    "alt_names": ALT_NAMES_SQL,
    "hierarchy_raw": HIERARCHY_SQL,
    "ags_map": AGS_MAP_SQL,
}

def register_gazetteer(spark: SparkSession, sf_dir: str,
                       replicate: int = 1) -> dict[str, DataFrame]:
    """Build the derived gazetteer views; returns name -> DataFrame.

    ``replicate > 1`` scales the synthetic world for benchmarks: customer
    ids are cloned with +copy*1e6 offsets (orders +copy*1e7).  Replicas all
    land in the place-row id range (>= 110), so admin/country lookup keys
    stay unique — the world gains places, not conflicting dimensions.
    Not used by the oracle path (the driver compares at replicate=1).
    """
    # parallelism floor on the two derivation inputs: a single-split
    # dimension table would run the CASE derivations, broadcast joins and
    # the melt downstream of it as ONE task
    ensure_parallel(spark.read.parquet(f"{sf_dir}/customer.parquet")) \
        .createOrReplaceTempView("customer")
    ensure_parallel(spark.read.parquet(f"{sf_dir}/orders.parquet")) \
        .createOrReplaceTempView("orders")
    if replicate > 1:
        from pyspark.sql import functions as F

        # the small parquet inputs are single-split; without an explicit
        # repartition the whole downstream narrow chain (broadcast joins +
        # melt) would run as ONE task regardless of cores.  Repartition
        # the BASE table, before the replicate crossJoin: the shuffle
        # then moves 1/replicate of the rows and the replication itself
        # (and everything narrow downstream) runs parallel instead of in
        # the single pre-shuffle task (r09; the old shape crossJoined in
        # one task and round-robin-shuffled the full replicated set,
        # paying sortBeforeRepartition over replicate x the rows)
        par = spark.sparkContext.defaultParallelism
        copies = spark.range(replicate).withColumnRenamed("id", "copy")
        cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
                .repartition(par).crossJoin(copies))
        cust.select(
            (F.col("c_custkey") + F.col("copy") * 1_000_000).alias("c_custkey")
        ).createOrReplaceTempView("customer")
        orders = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                  .repartition(par).crossJoin(copies))
        orders.select(
            (F.col("o_orderkey") + F.col("copy") * 10_000_000).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("copy") * 1_000_000).alias("o_custkey"),
        ).createOrReplaceTempView("orders")
    out: dict[str, DataFrame] = {}
    for name in ("features", "features_plus", "alt_names", "hierarchy_raw", "ags_map"):
        df = spark.sql(TABLE_SQL[name])
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def oracle_ctes(*names: str) -> str:
    """WITH-clause text for the DuckDB oracle replicating the derivation.

    DuckDB pre-registers the base parquet views, so the oracle only needs
    the derived-table CTEs.  ``names`` selects which (in dependency order).
    """
    if not names:
        names = ("features", "features_plus", "alt_names", "hierarchy_raw", "ags_map")
    parts = []
    for n in names:
        body = TABLE_SQL[n].strip().rstrip(";")
        parts.append(f"{n} AS (\n{body}\n)")
    return "WITH " + ",\n".join(parts)
