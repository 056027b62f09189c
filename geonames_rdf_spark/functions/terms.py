"""Column-level helper functions: URI minting, term formatting, geo.

All pure ``pyspark.sql.functions`` Column expressions — JVM-side, codegen'd,
no Python in the hot path.  Reference semantics cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab


def feature_uri(geonameid: Column, suffix: str = "/") -> Column:
    """Deterministic GeoNames URI minting (places.rq:77-78,85,105-106)."""
    return F.concat(F.lit(vocab.SWS), geonameid.cast("string"), F.lit(suffix))


def slugify(asciiname: Column) -> Column:
    """locationMap slug: lcase, strip ',', spaces->'-' (places.rq:86-87)."""
    return F.regexp_replace(F.regexp_replace(F.lower(asciiname), ",", ""), " ", "-")


def iri(term: Column | str) -> Column:
    """Render an IRI string as an N-Triples term ``<...>``; blank-node
    labels (``_:b0``) pass through bare (``<_:b0>`` is invalid NT)."""
    c = F.lit(term) if isinstance(term, str) else term
    return F.when(c.startswith("_:"), c).otherwise(
        F.concat(F.lit("<"), c, F.lit(">")))


def escape_literal(value: Column) -> Column:
    """Canonical N-Triples/Turtle string escaping: ``\\ " \\n \\r \\t``.
    Order matters — backslash first, or the escapes just added would be
    re-escaped.  Without the control-char escapes a multiline literal
    (the ontology has multiline rdfs:comments) emits an unterminated
    single-line string — an invalid document."""
    esc = F.regexp_replace(value.cast("string"), r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', r'\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    return esc


def nt_term(obj: Column, obj_is_iri: Column, obj_lang: Column, obj_dt: Column) -> Column:
    """Canonical N-Triples term from the 4-column object representation."""
    quoted = F.concat(F.lit('"'), escape_literal(obj), F.lit('"'))
    return (
        F.when(obj_is_iri, iri(obj))
        .when(obj_lang.isNotNull(), F.concat(quoted, F.lit("@"), obj_lang))
        .when(obj_dt.isNotNull(), F.concat(quoted, F.lit("^^<"), obj_dt, F.lit(">")))
        .otherwise(quoted)
    )


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in metres, pure Column trig.

    Spark-native replacement for ``geof:distance(a, b, uom:metre)``
    (web/queries/museums.rq:28-33) — no GeoSPARQL engine needed.
    """
    r = 6371008.8  # mean earth radius, metres
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2 * r) * F.asin(F.sqrt(a))
