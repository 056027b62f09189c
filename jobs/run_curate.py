#!/usr/bin/env python3
"""spark-submit entry point: corpus curation + packing job.

    ./scripts/package.sh        # builds pipeline.zip (not tracked)
    spark-submit --master local[32] --py-files pipeline.zip jobs/run_curate.py \
        --docs /root/testdata/sf0.01/documents.parquet --out /tmp/curated \
        --min-quality 0.4 --max-dup-line-frac 0.3 --max-top-bigram-share 0.2 \
        --benchmark /path/to/eval_docs.parquet --max-ppl 10000 --seq-len 2048

Pipeline (one lazy plan + one packing pass): optional per-domain cap
(url column) -> optional cross-corpus line/sentence-span dedup
(--dedup-lines MIN_CHARS | --dedup-spans N_SENTENCES) -> exact dedup
-> quality gate
-> optional decontamination / repetition caps / LM-perplexity cap /
PII-density cap -> stratified sampling -> optional chunking (overlapping
token windows) -> sequence packing.  Chunking bounds the packing unit
EXACTLY: both stages count the same token_count whitespace unit, and the
packer budgets on the chunker's own n_tokens (count_col), so any
--seq-len >= --chunk-tokens guarantees zero oversized packs (margin 1x,
pytest-pinned; the old "~2x margin" rule stemmed from a docstring that
misdescribed the pack budget as BPE-ish — retired in r06).  Writes:
  <out>/curated/   (doc_id, source, lang, quality)
  <out>/chunks/    (doc_id, chunk_id, n_tokens, chunk_text) when chunking
  <out>/packs/     (unit ids, n_tokens, bucket, pack_id, oversized)
  <out>/stage_metrics/  (per-stage kept/removed counters, lineage table)
and prints ONE JSON metrics line.

One pass per stage (VERDICT r06 #2): every frame consumed by more than
one downstream — the capped corpus, the line-dedup output, the kept
set — is persist()ed, so its most expensive shuffle runs ONCE and the
stage counters read the cached result instead of re-deriving the plan
(the line-dedup output used to be fully computed twice: once for its
removed-count collect, once for the join).  The counters then land in a
lineage stage_metrics table, not just this process's stdout — at
production scale a curation run's kept/removed per gate is an artifact
the next run reads, not a log line (same discipline as the LSH guard
telemetry in pipeline/lineage.py).
"""

from __future__ import annotations

import argparse
import json


def build_arg_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True,
                    help="documents parquet (doc_id, text, source, lang)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=float, default=0.4)
    ap.add_argument("--benchmark", default=None,
                    help="eval-set parquet for decontamination (doc_id, text)")
    ap.add_argument("--decontam-ngram", type=int, default=13)
    ap.add_argument("--max-dup-line-frac", type=float, default=None)
    ap.add_argument("--max-top-bigram-share", type=float, default=None)
    ap.add_argument("--max-ppl", type=float, default=None,
                    help="char-LM perplexity cap (LM trained on the corpus)")
    ap.add_argument("--lm-order", type=int, default=3)
    ap.add_argument("--max-pii", type=int, default=None,
                    help="drop documents with more than this many PII"
                         " placeholders (privacy.redact_pii counts)")
    ap.add_argument("--chunk-tokens", type=int, default=None,
                    help="chunk kept documents into windows of this many"
                         " whitespace tokens before packing; any"
                         " --seq-len >= this guarantees zero oversized"
                         " packs (same token unit end to end)")
    ap.add_argument("--chunk-overlap", type=int, default=16)
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--pack-buckets", type=int, default=32)
    ap.add_argument("--max-per-domain", type=int, default=None,
                    help="keep at most N docs per registered domain"
                         " (requires a url column; earliest doc_id wins;"
                         " only over-cap domains are ranked)")
    ap.add_argument("--dedup-lines", type=int, default=None,
                    metavar="MIN_CHARS",
                    help="C4-style cross-corpus line dedup before"
                         " scoring: every line >= MIN_CHARS survives"
                         " only at its globally-first occurrence")
    ap.add_argument("--dedup-spans", type=int, default=None,
                    metavar="N_SENTENCES",
                    help="C4-faithful cross-corpus span dedup: the unit"
                         " is a non-overlapping window of N_SENTENCES"
                         " sentences (C4 uses 3); mutually exclusive"
                         " with --dedup-lines; span-boundary whitespace"
                         " is normalized on rebuild")
    return ap


def run(spark, args: argparse.Namespace) -> dict:
    """The job body against an existing session (testable in-process;
    ``main`` wraps it with session setup/teardown).  Returns the metrics
    dict it also prints and persists."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from geonames_rdf_spark.operators import curate, packing, textstats
    from geonames_rdf_spark.pipeline import lineage

    docs = spark.read.parquet(args.docs)
    # parquet count() is footer metadata, not a data scan — cheap
    n_input = docs.count()
    n_after_domain = n_lines_removed = None
    persisted = []
    # unpersist in finally (ADVICE r07): an exception mid-job must
    # not strand the persisted frames for the session lifetime
    try:
        if args.max_per_domain is not None:
            from geonames_rdf_spark.operators import domains

            if "url" not in docs.columns:
                raise SystemExit("--max-per-domain requires a url column")
            # persisted: the capped corpus feeds line-dedup (several
            # subtrees), the LM trainer and the curation plan — one compute
            docs = (domains.cap_per_domain(docs, args.max_per_domain,
                                           url_col="url", order_col="doc_id")
                    .filter("domain_kept").drop("domain", "domain_kept")
                    .persist(StorageLevel.MEMORY_AND_DISK))
            persisted.append(docs)
            n_after_domain = docs.count()
        if args.dedup_lines is not None and args.dedup_spans is not None:
            raise SystemExit("--dedup-lines and --dedup-spans are mutually"
                             " exclusive (one unit granularity per pass)")
        if args.dedup_lines is not None or args.dedup_spans is not None:
            from geonames_rdf_spark.operators import lines as L

            # persisted: the counter aggregate used to re-run the whole
            # unit-dedup (the job's most expensive shuffle) a second time
            # for the join
            if args.dedup_lines is not None:
                dl = L.dedup_lines(docs, min_chars=args.dedup_lines)
            else:
                dl = L.dedup_spans(docs, n_sentences=args.dedup_spans)
            dl = dl.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(dl)
            n_lines_removed = int(
                dl.agg(F.sum("n_lines_removed")).collect()[0][0] or 0)
            docs = (docs.drop("text")
                    .join(dl.select("doc_id", "text"), "doc_id"))
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        lm = (textstats.train_char_lm(docs, n=args.lm_order)
              if args.max_ppl is not None else None)

        curated = curate.curate_corpus(
            docs, min_quality=args.min_quality,
            decontam_benchmark=bench, decontam_ngram=args.decontam_ngram,
            max_dup_line_frac=args.max_dup_line_frac,
            max_top_bigram_share=args.max_top_bigram_share,
            lm=lm, max_ppl=args.max_ppl, max_pii=args.max_pii)
        curated.write.mode("overwrite").parquet(f"{args.out}/curated")
        curated = spark.read.parquet(f"{args.out}/curated")
        n_curated = curated.count()

        # persisted: the kept set feeds chunking AND the packer, whose
        # group-size pre-flight would otherwise re-execute the curation
        # join in the non-chunk path
        kept_docs = docs.join(curated.select("doc_id"), "doc_id", "left_semi") \
            .persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(kept_docs)
        n_chunks = None
        count_col = None
        if args.chunk_tokens is not None:
            if args.seq_len < args.chunk_tokens:
                raise SystemExit(
                    f"--seq-len ({args.seq_len}) must be >= --chunk-tokens"
                    f" ({args.chunk_tokens}): both count the same token unit,"
                    " so a window can never fit a smaller budget")
            chunks = packing.chunk_documents(
                kept_docs, max_tokens=args.chunk_tokens,
                overlap=args.chunk_overlap)
            chunks.write.mode("overwrite").parquet(f"{args.out}/chunks")
            chunks = spark.read.parquet(f"{args.out}/chunks")
            n_chunks = chunks.count()
            # pack the CHUNKS on their own n_tokens (single-sourced token
            # unit); unit id = doc_id * 2^20 + chunk_id (chunk_id is bounded
            # far below 2^20 for any realistic document)
            pack_in = chunks.select(
                (F.col("doc_id") * 1_048_576 + F.col("chunk_id"))
                .alias("doc_id"),
                "n_tokens")
            count_col = "n_tokens"
        else:
            pack_in = kept_docs
        packed = packing.pack_sequences(pack_in, seq_len=args.seq_len,
                                        n_buckets=args.pack_buckets,
                                        count_col=count_col)
        packed.write.mode("overwrite").parquet(f"{args.out}/packs")
        packed = spark.read.parquet(f"{args.out}/packs")
        stats = packing.pack_stats(packed, seq_len=args.seq_len)
        agg = stats.agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.round(F.avg("fill"), 4).alias("mean_fill"),
            F.sum(F.col("has_oversized").cast("int")).alias("oversized_packs"),
        ).collect()[0]
        metrics = {
            "input_docs": n_input,
            "after_domain_cap": n_after_domain,
            "dedup_lines_removed": n_lines_removed,
            "curated_docs": n_curated,
            "n_packs": agg["n_packs"],
            "mean_fill": (float(agg["mean_fill"])
                          if agg["mean_fill"] is not None else None),
            "oversized_packs": agg["oversized_packs"],
            "seq_len": args.seq_len,
            "n_chunks": n_chunks,
        }
        lineage.write_stage_counters(
            spark, args.out, "curate",
            {k: v for k, v in metrics.items()
             if k != "mean_fill" and v is not None})
    finally:
        for df in persisted:
            df.unpersist()
    print(json.dumps(metrics))
    return metrics


def main() -> None:
    args = build_arg_parser().parse_args()
    from pyspark.sql import SparkSession

    from geonames_rdf_spark.session import ENGINE_CONF

    spark = (SparkSession.builder.appName("curate")
             .config(map=ENGINE_CONF).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args)
    spark.stop()


if __name__ == "__main__":
    main()
