"""Measure the driver-side matcher build ceiling (VERDICT r04 #4).

`build_scored_surface_map` collects the full bestName dimension to the
driver per job.  This script measures, at a replicated gazetteer:

  * collect + dict-build wall time and driver RSS delta,
  * matcher (trie-regex) build time,
  * `save_matcher_bundle` size + write time (the build-ONCE path),
  * per-job distribution cost: fresh broadcast vs SparkFiles bundle
    (second scan job each, so worker caches are visible).

Usage: python3 scripts/matcher_build_cost.py [replicate] [sf_dir]
Prints one JSON line; numbers land in DESIGN.md's ceiling table.
"""
from __future__ import annotations

import json
import os
import resource
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 256
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from geonames_rdf_spark.session import get_spark
    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, mentions
    from geonames_rdf_spark.pipeline.matcher import build_matcher

    spark = get_spark()
    out: dict = {"replicate": replicate, "sf_dir": sf_dir}

    tables = build.gazetteer_tables(spark, sf_dir, replicate=replicate,
                                    cache_dims=False)
    feats = tables["features"].localCheckpoint(eager=True)
    out["features"] = feats.count()

    rss0 = rss_mb()
    t0 = time.perf_counter()
    smap = mentions.build_scored_surface_map(feats)
    out["collect_build_s"] = round(time.perf_counter() - t0, 2)
    out["driver_rss_delta_mb"] = round(rss_mb() - rss0, 1)
    out["surfaces"] = len(smap)

    t0 = time.perf_counter()
    matcher = build_matcher(smap)
    out["matcher_build_s"] = round(time.perf_counter() - t0, 2)
    out["matcher_backend"] = type(matcher).__name__

    with tempfile.TemporaryDirectory() as d:
        bundle = os.path.join(d, "matcher.bundle")
        t0 = time.perf_counter()
        info = mentions.save_matcher_bundle(smap, bundle)
        out["bundle_write_s"] = round(time.perf_counter() - t0, 2)
        out["bundle_mb"] = round(info["bytes"] / 2**20, 1)

        # small page set: we time DISTRIBUTION, not the scan itself
        surfaces = corpus.gazetteer_surfaces(
            tables["features"].limit(2000))
        # coalesce: bound how many Python workers hold a deserialized
        # multi-GB automaton at once — we time distribution, not scan
        pages = (corpus.synthesize_pages(spark, surfaces, 2000)
                 .coalesce(4).localCheckpoint(eager=True))
        for mode in ("broadcast", "bundle_file"):
            times = []
            for _ in range(2):  # job 2 shows worker-cache reuse
                t0 = time.perf_counter()
                if mode == "broadcast":
                    n = mentions.detect_and_link(pages, smap).count()
                else:
                    n = mentions.detect_and_link(
                        pages, None, bundle_file=bundle).count()
                times.append(round(time.perf_counter() - t0, 2))
            out[f"{mode}_job_s"] = times
            out[f"{mode}_rows"] = n

    print(json.dumps(out))


if __name__ == "__main__":
    main()
