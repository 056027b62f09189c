#!/usr/bin/env python3
"""spark-submit entry point: full KG construction job.

    ./scripts/package.sh        # builds pipeline.zip (not tracked)
    spark-submit --master local[32] --py-files pipeline.zip jobs/run_kg.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/kg_out \
        --pages 10000 --buckets 32

On a cluster the same invocation runs with --master yarn/k8s; everything
inside is partition-parallel (no driver-side loops over data).  Writes:
  <out>/triples/bucket=K/   mention+feature triples, url-hash partitioned
  <out>/lineage/            per-bucket lineage rows (resume keys)
  <out>/ntriples/           canonical N-Triples text
  <out>/stage_metrics/stage=memo/   memo hits/misses/entries per site

Rerunning the same command into the same --out resumes: buckets the
lineage table marks done are skipped, the rest are (re)written.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--pages-table", default=None,
                    help="stored corpus to read (parquet path or catalog"
                         " table name, via sources.catalog.read_table) —"
                         " the PRODUCTION input; must carry (url, html,"
                         " lang) columns")
    ap.add_argument("--pages", type=int, default=10000,
                    help="sandbox fallback: synthesize this many pages"
                         " when no --pages-table is given")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--concurrency", type=int, default=1,
                    help="bucket jobs submitted at once (thread pool);"
                         " >1 keeps the cluster busy across bucket tails"
                         " — each bucket writes to a private directory so"
                         " concurrent jobs never share commit staging")
    ap.add_argument("--canonicalize", action="store_true",
                    help="S5: rewrite linked entities through the sameAs"
                         " connected-components canonical map before"
                         " materializing triples")
    ap.add_argument("--format", choices=("ntriples", "turtle"),
                    default="ntriples",
                    help="final serialization: splittable N-Triples"
                         " (default) or the reference's Turtle form"
                         " (each part file a valid document, concat-safe)")
    ap.add_argument("--replicate", type=int, default=1,
                    help="replicate the gazetteer xN (scale harness only:"
                         " makes the matcher-prep cost measurable at"
                         " sandbox SF; production reads the real dump)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from geonames_rdf_spark import memo
    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import (
        corpus, lineage, materialize, mentions,
    )
    from geonames_rdf_spark.session import ENGINE_CONF
    from geonames_rdf_spark.sources import catalog

    spark = (SparkSession.builder.appName("kg-construct")
             .config(map=ENGINE_CONF).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    import time

    tables = build.gazetteer_tables(spark, args.sf_dir,
                                    replicate=args.replicate)
    feats = tables["features"].cache()
    surfaces = corpus.gazetteer_surfaces(feats)
    t_prep = time.perf_counter()
    smap = mentions.build_scored_surface_map(feats)
    # matcher-prep = the driver collect + dict build (the broadcast itself
    # is made at the first bucket's scan); printed so the prep cost is
    # read off the job output, not stopwatched
    matcher_prep_s = round(time.perf_counter() - t_prep, 3)

    if args.pages_table:
        # production path: scan the stored corpus (Iceberg table name or
        # parquet path) — the measured fused/broadcast-once shape runs
        # against real storage, matching the scaling harness
        pages = catalog.read_table(spark, args.pages_table)
    else:
        # sandbox fallback: deterministic synthesis (no external data)
        pages = corpus.synthesize_pages(spark, surfaces, args.pages)

    mapping = None
    if args.canonicalize:
        from geonames_rdf_spark.pipeline import canonicalize

        # dimension-sized: derived once, cached, broadcast into every
        # bucket's rewrite (an empty map — no duplicate entities — is a
        # no-op rewrite)
        mapping = canonicalize.canonical_map(
            canonicalize.sameas_edges(feats)).cache()

    def triples_for(subset):
        # every bucket passes the same ``smap``, so detect_and_link's
        # content memo broadcasts the matcher ONCE for the whole loop
        # (a fresh broadcast per scan re-pays the per-worker
        # unpickle/compile); extraction is FUSED into the scan (one
        # Python hop per task slot — the measured production shape)
        linked = mentions.detect_and_link(subset, smap, from_html=True)
        if mapping is not None:
            from geonames_rdf_spark.pipeline import canonicalize

            linked = canonicalize.rewrite_links(linked, mapping)
        return materialize.mention_triples(linked)

    lineage.run_with_lineage(spark, pages, triples_for, args.out,
                             n_buckets=args.buckets,
                             concurrency=args.concurrency)

    # metric counts ride the sink write as observe() aggregates (the
    # same one-pass discipline as the lineage buckets and run_curate):
    # kg.count() used to re-run the whole gazetteer melt a second time
    # after the write already consumed it
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs_kg = Observation("kg_feature_triples")
    obs_m = Observation("kg_mention_triples")
    kg = build.build_kg(spark, args.sf_dir, tables=tables) \
        .observe(obs_kg, F.count(F.lit(1)).alias("n"))
    mention_triples = lineage.read_triples(spark, args.out) \
        .observe(obs_m, F.count(F.lit(1)).alias("n"))
    all_triples = kg.unionByName(mention_triples)
    if args.format == "turtle":
        from geonames_rdf_spark.pipeline import turtle

        turtle.write_turtle(all_triples, f"{args.out}/turtle")
    else:
        materialize.write_ntriples(all_triples, f"{args.out}/ntriples")
    # this run's memo hits/misses/entries per site, one row each
    lineage.write_stage_counters(spark, args.out, "memo", memo.counters())

    print(json.dumps({
        "feature_triples": int(obs_kg.get["n"]),
        "mention_triples": int(obs_m.get["n"]),
        "buckets": args.buckets,
        "matcher_prep_s": matcher_prep_s,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
