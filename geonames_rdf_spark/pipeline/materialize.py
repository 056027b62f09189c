"""Pipeline assembly + N-Triples materialization (stages S6-S7).

``run_pipeline`` wires extract -> mention-detect -> link -> canonicalize
-> materialize into one lazy plan.  Output triples = the gazetteer feature
triples (places/altnames mappings — the reference-parity set) UNION page
mention edges ``?page gn:locatedIn ?feature`` with provenance, partitioned
by url-hash buckets for the lineage/resume layer.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab
from geonames_rdf_spark.functions.terms import feature_uri, iri, nt_term
from geonames_rdf_spark.operators import build
from geonames_rdf_spark.pipeline import corpus, extract, mentions

GN_LOCATED_IN = vocab.GN + "locatedIn"


def mention_triples(linked: DataFrame) -> DataFrame:
    """(page url) gn:locatedIn (feature uri) — deduplicated per page."""
    return (
        linked.select(
            F.col("url").alias("subj"),
            F.lit(GN_LOCATED_IN).alias("pred"),
            feature_uri(F.col("geonameid")).alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
        .withColumn("obj_is_iri", F.lit(True))
        .withColumn("obj_lang", F.lit(None).cast("string"))
        .withColumn("obj_dt", F.lit(None).cast("string"))
    )


class PipelineStages(dict):
    """Lazy stage map: each stage's plan — and, more importantly, the
    driver-side surface-map ``collect`` behind it — is built on FIRST
    ACCESS only.  A caller that consumes only ``pages`` never pays the
    collect.

    The full mapping protocol sees pending stages too (``in`` / ``get``
    / ``keys`` / ``len``), and a factory that raises stays registered so
    a retry re-raises the ROOT cause instead of a bare KeyError."""

    def __init__(self, factories):
        super().__init__()
        self._factories = factories
        self._cached: list = []

    def unpersist(self, blocking: bool = False) -> None:
        """Release the frames ``run_pipeline`` persisted for this run
        (caller-owned cache lifecycle, r08 — the library must not leak
        a cache per call in a long-lived session).  Call when done consuming
        the stages; consuming a stage afterwards recomputes instead of
        failing."""
        for df in self._cached:
            df.unpersist(blocking)
        self._cached = []

    def __getitem__(self, key):
        if not super().__contains__(key) and key in self._factories:
            value = self._factories[key]()  # pop only after success
            super().__setitem__(key, value)
            del self._factories[key]
        return super().__getitem__(key)

    def __setitem__(self, key, value):
        # a direct assignment supersedes any pending factory for the same
        # key — otherwise keys()/len() double-count it and items() would
        # needlessly invoke the dead factory
        self._factories.pop(key, None)
        super().__setitem__(key, value)

    def __contains__(self, key):
        return super().__contains__(key) or key in self._factories

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def keys(self):
        return list(super().keys()) + list(self._factories.keys())

    def __iter__(self):
        return iter(self.keys())

    def __len__(self):
        return len(super().keys()) + len(self._factories)

    def items(self):
        return [(k, self[k]) for k in self.keys()]

    def values(self):
        return [self[k] for k in self.keys()]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    n_pages: int = 1000,
    include_feature_triples: bool = True,
) -> PipelineStages:
    """Full web-scale KG construction over a synthesized corpus.

    Persists the dimension-sized feature table and the RAW page corpus
    (html, no extracted text — extraction is fused into the scan
    batches): both feed multiple consumers (the surface-map collect + the
    link scan; mention scan + the lang join).  On a real deployment
    the corpus is a storage table — the re-read is pruned columnar IO —
    but a generated corpus would otherwise be re-synthesized per consumer.
    The caches are CALLER-owned: ``stages.unpersist()`` releases them
    when the consumer is done (repeated calls in a long-lived session
    would otherwise accumulate one features+pages cache pair per run).

    The gazetteer is derived ONCE and threaded into ``build_kg`` (it used
    to be re-derived inside the triple stage); stages are lazy, and the
    ``mentions`` and ``linked`` stages share one scored-map collect (and,
    through the content-keyed memo, one matcher broadcast), made on the
    first access of either.
    """
    tables = build.gazetteer_tables(spark, sf_dir)
    features = tables["features"].cache()
    tables["features"] = features

    surfaces = corpus.gazetteer_surfaces(features)
    # S1 (extraction) is FUSED into the scan batches below
    # (``from_html=True`` — one Python/Arrow hop instead of two, guide
    # §4.1: every extra chained pandas stage pays a full Arrow
    # round-trip of the corpus); the raw synthesized text is dropped so
    # extraction remains the only text source (byte-identity invariant
    # unchanged — same ``extract.extract_text_py`` pure function runs
    # inside the scan, equivalence test-pinned).  The cache then holds
    # html only, not html + extracted text.
    raw_pages = corpus.synthesize_pages(
        spark, surfaces, n_pages).drop("text").cache()

    stages = PipelineStages({})
    scored_map = functools.cache(
        lambda: mentions.build_scored_surface_map(features))

    def mk_pages() -> DataFrame:
        # the staged S1 output (url, warc_ts, html, lang, text) for
        # consumers that want the extracted corpus itself; lazy, so
        # pipelines consuming only linked/triples never run the separate
        # extraction pass
        return extract.with_extracted_text(
            raw_pages.withColumn("text", F.lit(None).cast("string")))

    def mk_linked() -> DataFrame:
        # S3+S4 fused: broadcast matcher with scored candidates; mention
        # detection, scoring and per-mention argmax all inside the Arrow
        # batch (candidate fan-out never shuffles).  The staged operators
        # (detect_mentions + link_mentions) remain available for scoring
        # features that cannot be broadcast; equivalence is test-pinned.
        return mentions.detect_and_link(raw_pages, scored_map(),
                                        from_html=True)

    def mk_mentions() -> DataFrame:
        # candidate-level mention stream via the staged operator (same
        # fused extraction and map — identical match set, test-pinned)
        return mentions.detect_mentions(raw_pages, scored_map(),
                                        carry_lang=True, from_html=True)

    def mk_triples() -> DataFrame:
        mt = mention_triples(stages["linked"])
        if include_feature_triples:
            # reuse the already-derived (cached) gazetteer tables
            return build.build_kg(spark, sf_dir, tables=tables).unionByName(mt)
        return mt

    stages._factories.update(
        {"pages": mk_pages, "linked": mk_linked, "mentions": mk_mentions,
         "triples": mk_triples}
    )
    stages._cached = [features, raw_pages]
    return stages


def to_ntriples(triples: DataFrame) -> DataFrame:
    """Render canonical N-Triples lines (the text sink format, A6/A8)."""
    return triples.select(
        F.concat_ws(
            " ",
            iri(F.col("subj")),  # blank-node subjects (_:b0) render bare
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            nt_term(F.col("obj"), F.col("obj_is_iri"),
                    F.col("obj_lang"), F.col("obj_dt")),
            F.lit("."),
        ).alias("line")
    )


def write_ntriples(triples: DataFrame, path: str) -> None:
    to_ntriples(triples).write.mode("overwrite").text(path)
