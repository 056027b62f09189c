#!/usr/bin/env python3
"""spark-submit entry point: live-crawl streaming KG maintenance.

    ./scripts/package.sh        # builds pipeline.zip (not tracked)
    spark-submit --master local[32] --py-files pipeline.zip \
        jobs/run_stream_kg.py --drop-dir /data/crawl_drop \
        --out /data/kg_stream --sf-dir /root/testdata/sf0.01 \
        --max-files-per-trigger 4 [--drain]

Watches ``--drop-dir`` for landing ``.warc.gz`` members (Common Crawl's
delivery unit), streams them through parse -> fused extract+link, and
commits triples to an epoch-partitioned parquet store under ``--out``:
a replayed batch overwrites its own epoch partition, so the store is
exactly-once (compact it with streaming.events.compact_stream_kg).

``--drain`` processes everything currently in the drop dir and exits
(batch-of-streams, for tests/backfills); without it the query runs
until killed.  Prints ONE JSON line on exit.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--drop-dir", required=True,
                    help="directory where .warc.gz members land")
    ap.add_argument("--out", required=True, help="triple store root")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="gazetteer tables for the matcher")
    ap.add_argument("--buckets", type=int, default=16,
                    help="subj-hash buckets")
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="archives per micro-batch (the ingest-rate knob)")
    ap.add_argument("--drain", action="store_true",
                    help="process what is there now, then exit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import mentions
    from geonames_rdf_spark.session import ENGINE_CONF
    from geonames_rdf_spark.streaming import events as ev

    spark = (SparkSession.builder.appName("stream_kg")
             .config(map=ENGINE_CONF).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    feats = build.gazetteer_tables(spark, args.sf_dir)["features"]
    smap = mentions.build_scored_surface_map(feats)
    q = ev.run_stream_kg_warc(
        spark, args.drop_dir, smap, args.out, n_buckets=args.buckets,
        max_files_per_trigger=args.max_files_per_trigger)
    try:
        if args.drain:
            q.processAllAvailable()
        else:
            q.awaitTermination()
    finally:
        q.stop()

    n = ev.read_stream_kg(spark, args.out).count()
    print(json.dumps({"triples": n, "buckets": args.buckets}))
    spark.stop()


if __name__ == "__main__":
    main()
