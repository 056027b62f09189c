"""Static ontology / property-definition triples (source A9-adjacent).

The reference merges two static RDF inputs into its final output:

- ``config/property-definitions.ttl:7-8`` — the wdt:P439 datatype-property
  block, unioned by ``consolidate.rq:60-64``;
- the FULL GeoNames ontology v3.3 (``output/ontology_v3.3_modified.rdf``,
  ~690 ``gn:Code`` concepts, 3,251 multilingual ``skos:prefLabel``s,
  6,845 triples), merged in ``docker-compose.yml:33-35``.

Spark-first equivalent: both blocks live in ONE checked-in parquet
fixture (``data/ontology_v33_static.parquet``), generated from the public
ontology RDF/XML by ``scripts/gen_ontology_fixture.py`` via the
``sources/rdfxml.py`` parser.  A parquet scan beats a driver-side
``createDataFrame`` local relation (measured ~0.5 s planning overhead per
build) and is the SAME bytes the DuckDB oracle reads via
``read_parquet`` — one static dimension, every consumer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from geonames_rdf_spark import vocab

SKOS_CONCEPT_TYPE = vocab.GN + "Code"
SKOS_NOTATION = vocab.SKOS + "notation"
SKOS_IN_SCHEME = vocab.SKOS + "inScheme"
SKOS_PREF_LABEL = vocab.SKOS + "prefLabel"
OWL_DATATYPE_PROPERTY = vocab.OWL + "DatatypeProperty"

FIXTURE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "ontology_v33_static.parquet")

_LOCAL_FIXTURE: str | None = None


def fixture_path() -> str:
    """Filesystem path of the fixture, ALSO when the package is deployed
    as ``spark-submit --py-files pipeline.zip`` (the module then lives
    inside the zip and ``FIXTURE_PATH`` is not a real file): the resource
    is extracted once per process to a temp file via importlib.resources.

    Local-mode note: the temp file is driver-local, which executors share
    in ``local[*]``.  On a multi-node cluster set
    ``SPARK_GRAFT_ONTOLOGY_PATH`` to a shared-storage copy (HDFS/S3 URI)
    — a dimension this small is a one-time ``hdfs dfs -put``.
    """
    override = os.environ.get("SPARK_GRAFT_ONTOLOGY_PATH")
    if override:
        return override
    global _LOCAL_FIXTURE
    if os.path.isfile(FIXTURE_PATH):
        return FIXTURE_PATH
    # zip deploy + NO override: the temp extraction below is DRIVER-local,
    # which multi-node executors cannot read — fail fast with the fix
    # instead of an opaque FileNotFoundException inside a scan task
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    master = session.conf.get("spark.master", "") if session else ""
    if master and not master.startswith("local"):
        raise RuntimeError(
            "ontology fixture: running from a --py-files zip on a"
            f" non-local master ({master}); executors cannot read a"
            " driver-local temp file. Put the fixture on shared storage"
            " (hdfs dfs -put / aws s3 cp the packaged"
            " sources/data/ontology_v33_static.parquet) and set"
            " SPARK_GRAFT_ONTOLOGY_PATH to that URI.")
    if _LOCAL_FIXTURE is None or not os.path.isfile(_LOCAL_FIXTURE):
        import importlib.resources
        import shutil
        import tempfile

        ref = (importlib.resources.files("geonames_rdf_spark.sources")
               / "data" / "ontology_v33_static.parquet")
        fd, tmp = tempfile.mkstemp(suffix=".parquet",
                                   prefix="ontology_v33_static_")
        with os.fdopen(fd, "wb") as dst, ref.open("rb") as src:
            shutil.copyfileobj(src, dst)
        _LOCAL_FIXTURE = tmp
    return _LOCAL_FIXTURE

_TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_iri", "obj_lang", "obj_dt")

# property-definitions.ttl:7-8
PROPERTY_LABELS: list[tuple[str, str]] = [
    ("de", "Amtlicher Gemeindeschlüssel"),
    ("en", "German municipality key"),
]


def property_definition_rows() -> list[tuple]:
    """The wdt:P439 block (property-definitions.ttl) as triple rows —
    appended to the fixture by ``scripts/gen_ontology_fixture.py``."""
    rows: list[tuple] = [
        (vocab.WDT_P439, vocab.RDF_TYPE, OWL_DATATYPE_PROPERTY,
         True, None, None)
    ]
    for lang, label in PROPERTY_LABELS:
        rows.append((vocab.WDT_P439, SKOS_PREF_LABEL, label,
                     False, lang, None))
    return rows


def ontology_triple_rows() -> list[tuple]:
    """Fixture rows as python tuples (driver-side; the fixture is a
    dimension — thousands of rows)."""
    import pyarrow.parquet as pq

    table = pq.read_table(fixture_path())
    cols = [table.column(c).to_pylist() for c in _TRIPLE_COLS]
    return list(zip(*cols))


def ontology_triples(spark: SparkSession) -> DataFrame:
    """The static block as a triple DataFrame (a plain parquet scan —
    broadcast-sized, no driver-side local relation in the plan)."""
    return spark.read.parquet(fixture_path()).select(*_TRIPLE_COLS)


def concept_labels() -> list[tuple[str, str]]:
    """(code_iri, prefLabel@en) pairs for every gn:Code concept — the C12
    join dimension, derived from the fixture."""
    rows = ontology_triple_rows()
    concepts = {r[0] for r in rows
                if r[1] == vocab.RDF_TYPE and r[2] == SKOS_CONCEPT_TYPE}
    return [(r[0], r[2]) for r in rows
            if r[1] == SKOS_PREF_LABEL and r[4] == "en" and r[0] in concepts]


def oracle_values_sql() -> str:
    """The identical static block for DuckDB (oracle twin): the SAME
    parquet bytes the Spark side scans."""
    path = fixture_path().replace("'", "''")
    return ("SELECT subj, pred, obj, obj_is_iri, obj_lang, obj_dt"
            f" FROM read_parquet('{path}')")
