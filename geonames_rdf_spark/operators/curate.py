"""Composite corpus-curation pipeline: the end-to-end shape a
training-data run executes before tokenization.

One lazy plan chaining the already-verified primitives:

1. **exact dedup** — keep the min-id survivor per distinct text
   (``dedup.exact_dedup`` rule, applied as a semi-join);
2. **quality gate** — drop documents under a score threshold
   (``textstats.quality_score``, same 6-dp rounding contract);
3. **stratified downsampling** — per-source keep rates via the
   hash-deterministic sampler (``sampling.sample_stratified``);
4. optional gates, each off by default (the oracle twin checks the
   default wiring): **benchmark decontamination**
   (``dedup.decontaminate``), **repetition caps**
   (``textstats.repetition_stats``, Gopher rules), **LM perplexity cap**
   (``textstats.lm_perplexity`` with a pre-trained broadcast LM), and
   the r05 **PII-density cap** (``privacy.redact_pii`` counts — drop
   documents whose placeholder count exceeds ``max_pii``; redaction
   itself is a rewrite, not a filter, so it stays a separate operator).

Each stage is individually oracle-checked; the composite has its own
DuckDB twin (driver query ``curate_corpus``) so stage WIRING is verified
too, not just the parts.  Shuffle inventory at corpus scale: one
groupBy(md5) for dedup + the broadcast-sized survivor semi-join — quality
and sampling are narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark.operators import sampling, textstats
from geonames_rdf_spark.operators.dedup import exact_dedup


def curate_corpus(docs: DataFrame, min_quality: float = 0.4,
                  rates: dict[str, float] | None = None,
                  default_rate: float = 1.0,
                  decontam_benchmark: DataFrame | None = None,
                  decontam_ngram: int = 13,
                  max_dup_line_frac: float | None = None,
                  max_top_bigram_share: float | None = None,
                  lm: dict | None = None,
                  max_ppl: float | None = None,
                  max_pii: int | None = None) -> DataFrame:
    """(doc_id, source, lang, quality) for the curated subset of a
    documents table ``(doc_id, text, source, lang)``."""
    if max_ppl is not None and lm is None:
        raise ValueError("max_ppl requires a trained lm"
                         " (textstats.train_char_lm)")
    survivors = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    d = docs.join(survivors, "doc_id", "left_semi")
    q = textstats.quality_score(d)
    d = (d.join(q, "doc_id")
         .filter(F.col("quality") >= min_quality))
    if decontam_benchmark is not None:
        from geonames_rdf_spark.operators.dedup import decontaminate

        clean = (decontaminate(d, decontam_benchmark, n=decontam_ngram)
                 .filter(~F.col("contaminated")).select("doc_id"))
        d = d.join(clean, "doc_id", "left_semi")
    if max_dup_line_frac is not None or max_top_bigram_share is not None:
        rep = textstats.repetition_stats(d)
        keep = F.lit(True)
        if max_dup_line_frac is not None:
            keep = keep & (F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_bigram_share is not None:
            keep = keep & (F.col("top_bigram_share") <= max_top_bigram_share)
        d = d.join(rep.filter(keep).select("doc_id"), "doc_id", "left_semi")
    if max_ppl is not None:
        # NULL ppl means "too short to measure" per lm_perplexity's
        # contract — NOT "bad", so unmeasurable docs are kept.
        ok = (textstats.lm_perplexity(d, lm)
              .filter(F.col("ppl").isNull() | (F.col("ppl") <= max_ppl))
              .select("doc_id"))
        d = d.join(ok, "doc_id", "left_semi")
    if max_pii is not None:
        from geonames_rdf_spark.operators.privacy import redact_pii

        ok = (redact_pii(d)
              .filter(F.col("n_pii") <= max_pii).select("doc_id"))
        d = d.join(ok, "doc_id", "left_semi")
    if rates:
        d = sampling.sample_stratified(d, rates, default_rate=default_rate)
    return d.select("doc_id", "source", "lang", "quality")
