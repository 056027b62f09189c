#!/usr/bin/env python3
"""One scaling-run datapoint: fixed workload at a given core count.

Usage: scaling_worker.py <cpus> <n_pages> [sf_dir] — prints one JSON line
{"cpus": N, "kg_sec": ..., "pipe_sec": ..., "triples": ..., "pages": ...}.
Run in its own process so each datapoint gets a fresh JVM with exactly
local[N].
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geonames_rdf_spark.operators import build  # noqa: E402
from geonames_rdf_spark.pipeline import materialize  # noqa: E402
from geonames_rdf_spark.session import get_spark  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1])
    n_pages = int(sys.argv[2])
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    # the synthesized corpus is tiny parquet files; with the default
    # 128m/4m (maxPartitionBytes/openCost) Spark would bin-pack them into
    # ~3 read splits and cap scan parallelism below the core count — size
    # the splits to the data, exactly what a real 100TB deployment tunes
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    # warm JVM/parquet (excluded from the measurement)
    spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    build.build_kg(spark, sf_dir).limit(1).count()

    reps = int(os.environ.get("SCALE_REPS", "3"))

    def best_of(fn, n=None):
        n = n or reps
        """min wall time over n reps — immunises each metric against the
        shared host's load spikes (one quiet window suffices)."""
        best, result = None, None
        for _ in range(n):
            t0 = time.time()
            result = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return best, result

    kg_sec, triples = best_of(lambda: build.build_kg(spark, sf_dir).count())
    # scaled KG build: x16 replicated places so the melt+joins dominate
    # the ~3s fixed planning/broadcast cost that swamps the sf0.1 build
    kg_big_sec, triples_big = best_of(
        lambda: build.build_kg(spark, sf_dir, replicate=16).count()
    )

    # prep: dimension build + driver collects + corpus materialization —
    # all fixed or test-only costs (production reads the corpus from an
    # Iceberg/parquet table; synthesis exists only in this sandbox), so
    # they are excluded from the scaling measurement.  The measured phase
    # is the production shape: storage scan -> fused extract+match
    # (ONE Python hop — chained pandas stages each spawn their own worker
    # per task slot and the oversubscription anti-scales) -> link ->
    # triple dedup.
    from geonames_rdf_spark.pipeline import corpus, link, mentions

    t0 = time.time()
    tables = build.gazetteer_tables(spark, sf_dir)
    feats = tables["features"].cache()
    feats.count()
    surfaces = corpus.gazetteer_surfaces(feats)
    smap = mentions.build_scored_surface_map(feats)
    # every scan below passes the same map, so the content-keyed memo
    # builds + broadcasts the matcher ONCE (as a production job does): a
    # fresh broadcast per scan would make every rep re-pay the driver
    # build and the per-worker unpickle/regex-compile — a fixed per-job
    # cost, not steady-state scan throughput
    # cache key carries the gazetteer (sf_dir) too — a corpus synthesized
    # from one gazetteer must never be reused for another scale factor.
    # tmpfs cache persists across the interleaved levels of one evidence
    # run; clean with: rm -rf /dev/shm/scaling-corpus-*
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    corpus_path = f"/dev/shm/scaling-corpus-{sf_tag}-{n_pages}"
    # reuse only a COMPLETE write: a partial directory from a crashed run
    # (no parquet _SUCCESS marker) would silently skew the page count
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        # fixed file count independent of THIS worker's core count — the
        # written layout must not cap the read parallelism of the other
        # (higher-core) measurement level
        (corpus.synthesize_pages(spark, surfaces, n_pages, partitions=64)
         .drop("text")
         .write.mode("overwrite").parquet(corpus_path))
    prep_sec = time.time() - t0

    def pages_df():
        return spark.read.parquet(corpus_path)

    # scan phase: storage scan -> fused extract+match (zero shuffles)
    scan_sec, n_mentions = best_of(
        lambda: mentions.detect_mentions(
            pages_df(), smap, carry_lang=True, from_html=True).count()
    )

    # full STAGED phase: + link argmax + mention-triple dedup (two
    # shuffles); materializes the candidate fan-out (~25 rows/page here)
    def full():
        ment = mentions.detect_mentions(
            pages_df(), smap, carry_lang=True, from_html=True)
        linked = link.link_mentions(ment, feats)
        return materialize.mention_triples(linked).count()

    pipe_sec, mention_triples = best_of(full)

    # FUSED phase — the production hot path (DESIGN.md): extract + match +
    # score + argmax inside one Arrow batch; the Zipf candidate fan-out
    # never crosses the Python/JVM boundary, so the only corpus-sized
    # exchange is the mention-triple dedup
    def fused():
        linked = mentions.detect_and_link(
            pages_df(), smap, from_html=True)
        return materialize.mention_triples(linked).count()

    fused_sec, fused_triples = best_of(fused)

    print(json.dumps({
        "cpus": cpus, "kg_sec": round(kg_sec, 3),
        "kg_big_sec": round(kg_big_sec, 3), "triples_big": triples_big,
        "prep_sec": round(prep_sec, 3),
        "scan_sec": round(scan_sec, 3), "pipe_sec": round(pipe_sec, 3),
        "fused_sec": round(fused_sec, 3), "fused_triples": fused_triples,
        "triples": triples, "n_mentions": n_mentions,
        "mention_triples": mention_triples, "pages": n_pages,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
