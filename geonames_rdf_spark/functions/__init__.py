from geonames_rdf_spark.functions.terms import (  # noqa: F401
    feature_uri,
    haversine_m,
    iri,
    nt_term,
    slugify,
)
