#!/usr/bin/env python3
"""Headline benchmark: prints ONE JSON line with per-query seconds.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on).
Queries cover the engine's main cost centres: the full KG build
(triples/sec headline), the web pipeline (extraction + AC mentions +
linking), closure/star/kNN workload queries, and the training-data
operators (minhash dedup, embedding kNN).

Methodology: the suite runs ``BENCH_REPS`` (default 2) FULL passes,
INTERLEAVED — every query of pass 1, then every query of pass 2 — and
reports the per-query minimum.  This host carries bursty external load
(load-avg 3-11 from outside the container); interleaving means a burst
lands on at most one pass of each query instead of both back-to-back
reps of the same query, so min-of-passes reflects the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geonames_rdf_spark import oracle  # noqa: E402
from geonames_rdf_spark.operators import build, dedup, similarity  # noqa: E402
from geonames_rdf_spark.pipeline import materialize  # noqa: E402
from geonames_rdf_spark.plans import workload  # noqa: E402
from geonames_rdf_spark.session import (  # noqa: E402
    codegen_counters, cpus, get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PAGES = int(os.environ.get("BENCH_PAGES", "20000"))


def _host_load() -> dict:
    """Host-load context (VERDICT r07 #1): this host carries bursty
    load from OUTSIDE the container, and three rounds running the
    driver artifact pointed opposite to same-session quiet re-runs.
    Stamping loadavg + uptime into the JSON makes every artifact
    self-adjudicating — a regressed number under loadavg 8 reads
    differently from one under loadavg 1."""
    la = os.getloadavg()
    try:
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
    except OSError:
        up = None
    return {"loadavg_1m": round(la[0], 2), "loadavg_5m": round(la[1], 2),
            "loadavg_15m": round(la[2], 2), "uptime_s": round(up)
            if up is not None else None}


def main() -> None:
    import shutil
    import tempfile

    host_start = _host_load()
    spark = get_spark(app_name="bench")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    # 3 interleaved passes: this host's external load bursts last longer
    # than one pass, so two passes can BOTH land inside a burst; a third
    # pass makes the per-query minimum robust at ~30 s extra suite time
    reps = int(os.environ.get("BENCH_REPS", "3"))

    # warm the JVM + parquet footers once (not counted)
    spark.read.parquet(f"{SF_DIR}/customer.parquet").count()

    # shared KG input, built once OUTSIDE the measured region, materialized
    # to PARQUET (a warehouse-resident table the workload queries scan).
    # NOT .cache(): a cached plan structurally matches the kg_full_build
    # entry's identical plan, and the CacheManager would silently
    # substitute InMemoryTableScan — the build timing would measure a
    # cache scan (caught in round-3 review).
    kg_dir = tempfile.mkdtemp(prefix="bench_kg_")
    build.build_kg(spark, SF_DIR).write.mode("overwrite").parquet(kg_dir)
    kg = spark.read.parquet(kg_dir)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # guard: the measured build must be a real build, not a cache scan of
    # the OUTPUT.  Cache substitution of the whole plan puts
    # InMemoryRelation at the optimized-plan ROOT; the features DIMENSION
    # cache inside gazetteer_tables (deep in the tree, warehouse steady
    # state — the melt, which is all the work at scale, runs fresh every
    # pass) is accepted.
    opt_root = (build.build_kg(spark, SF_DIR)._jdf.queryExecution()
                .optimizedPlan().toString().strip().splitlines()[0])
    assert "InMemoryRelation" not in opt_root, (
        f"kg_full_build output is cache-substituted ({opt_root}) — the"
        " timing would measure a cache scan, not the build")

    def pipeline_run():
        r = materialize.run_pipeline(spark, SF_DIR, n_pages=N_PAGES,
                                     include_feature_triples=False)
        try:
            return r["triples"].count()
        finally:
            # the features/pages caches are caller-owned: a later run
            # must build its own, not read this run's
            r.unpersist()

    # guard telemetry (VERDICT r05 #4): the measured dedup run carries an
    # Observation so a corpus that trips the mega-bucket guard shows up
    # in the bench JSON (oversized_rows > 0 = degraded recall, loud)
    guard_stats: dict = {}

    def minhash_observed():
        from pyspark.sql import Observation

        obs = Observation()
        n = dedup.minhash_near_dups(docs, threshold=0.5,
                                    guard_observation=obs).count()
        got = dict(obs.get)
        guard_stats["dedup_minhash_lsh"] = {
            "oversized_rows": int(got.get("oversized_rows", 0)),
            "total_rows": int(got.get("total_rows", 0)),
        }
        return n

    def dedup_lines_run():
        # r06 operator row: multi-line docs assembled from the corpus
        # (50-doc groups sharing injected boilerplate) -> global
        # first-occurrence line dedup -> rebuilt docs counted
        from pyspark.sql import functions as F

        from geonames_rdf_spark.operators import lines as L

        grouped = (docs.groupBy((F.col("doc_id") % 100).alias("_g"))
                   .agg(F.concat(
                       F.lit("COOKIE BANNER ACCEPT ALL\n"),
                       F.array_join(
                           F.transform(
                               F.array_sort(F.collect_list(
                                   F.struct("doc_id", "text"))),
                               lambda s: s.text), "\n"),
                       F.lit("\nCC-LICENSE FOOTER v1")).alias("text"))
                   .select(F.col("_g").alias("doc_id"), "text"))
        return L.dedup_lines(grouped, min_chars=2).count()

    # web_pipeline appears TWICE per pass (flagship number, and the one
    # that regressed under host noise in the round-3 driver window):
    # 2 x reps samples at different suite offsets make the minimum robust
    # to load bursts longer than a single query.
    suite: list[tuple[str, "callable"]] = [
        ("kg_full_build", lambda: build.build_kg(spark, SF_DIR).count()),
        ("web_pipeline", pipeline_run),
        ("c4_descendants",
         lambda: workload.q_descendants(kg, oracle.SEED_ADM1).count()),
        ("c8_hierarchy_report",
         lambda: workload.q_hierarchy_report(kg, oracle.SEED_PLACE).count()),
        ("c9_museums_knn",
         lambda: workload.q_museums(kg, oracle.SEED_CITY).count()),
        ("c2_population_topk", lambda: workload.q_population(kg).count()),
        ("dedup_minhash_lsh", lambda: minhash_observed()),
        ("dedup_lines", lambda: dedup_lines_run()),
        ("ann_knn_per_label",
         lambda: similarity.pairwise_topk_per_label_blas(emb).count()),
        ("web_pipeline", pipeline_run),
    ]

    # compile work of the measured region (everything from here to the
    # JSON line): Janino classes and HotSpot JIT time
    codegen0 = codegen_counters(spark)
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for _ in range(reps):
        for name, fn in suite:
            t0 = time.time()
            counts[name] = fn()
            dt = time.time() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    timings = {k: round(v, 3) for k, v in timings.items()}
    shutil.rmtree(kg_dir, ignore_errors=True)

    # STEADY STATE (VERDICT r04 #5): the sf0.1 suite numbers are ~60%
    # fixed plan-construction cost; at 100x scale execution dominates.
    # One x16 build + one 16x-page pipeline run per pass puts a
    # rows/sec number where the round deltas can track it.  min-of-3
    # (r07: a measured same-day burst covered BOTH passes of a min-of-2
    # run — 25.5 s for a build an isolated warm probe ran in 7.4 s —
    # so the designated round tracker gets a third chance to land in a
    # quiet window).
    steady: dict = {}
    steady_reps = int(os.environ.get("BENCH_STEADY_REPS", "3"))
    if steady_reps > 0:
        srep, spages = 16, N_PAGES * 16
        kg_s, web_s, kg_rows, web_rows = None, None, 0, 0
        for _ in range(steady_reps):
            t0 = time.time()
            kg_rows = build.build_kg(spark, SF_DIR, replicate=srep).count()
            dt = time.time() - t0
            kg_s = dt if kg_s is None else min(kg_s, dt)
            t0 = time.time()
            r = materialize.run_pipeline(spark, SF_DIR, n_pages=spages,
                                         include_feature_triples=False)
            try:
                web_rows = r["triples"].count()
            finally:
                r.unpersist()
            dt = time.time() - t0
            web_s = dt if web_s is None else min(web_s, dt)
        steady = {
            "replicate": srep,
            "kg_full_build_s": round(kg_s, 3),
            "kg_triples": kg_rows,
            "kg_triples_per_sec": round(kg_rows / kg_s),
            "web_pipeline_s": round(web_s, 3),
            "web_pages": spages,
            "web_pages_per_sec": round(spages / web_s),
        }

    # STREAMING soak (VERDICT r05 #6, r07 decomposition): the WARC
    # drop-dir -> KG live-crawl path gets the same per-round regression
    # tracking as the batch pipeline.  Two passes over the same drop
    # dir: the first (cold) pays stream startup + first-plan JIT, the
    # second (warm) is the STEADY-STATE number a long-running crawl
    # ingest actually sustains — r07 measured the whole r06 "8-17x
    # below batch" gap to be (a) cold-start charged to one short soak
    # and (b) a comparator that skips WARC decode + the epoch sink; the
    # warm soak matches the batch decode+link+sink equivalent (BENCH.md
    # r07 note).  add_batch_ms (the query's own durationMs) separates
    # compute from trigger/commit overhead per round.
    streaming: dict = {}
    stream_pages = int(os.environ.get("BENCH_STREAM_PAGES", str(N_PAGES)))
    if stream_pages > 0:
        import json as _json

        from geonames_rdf_spark.operators import build as b2
        from geonames_rdf_spark.pipeline import corpus, mentions
        from geonames_rdf_spark.sources import warc as warc_src
        from geonames_rdf_spark.streaming import events as ev

        feats = b2.gazetteer_tables(spark, SF_DIR)["features"]
        surfaces = corpus.gazetteer_surfaces(feats)
        pages = corpus.synthesize_pages(spark, surfaces, stream_pages)
        n_archives = 16
        drop = tempfile.mkdtemp(prefix="bench_warc_drop_")
        warc_src.write_warc(pages.repartition(n_archives, "url"), drop)
        smap = mentions.build_scored_surface_map(feats)

        def soak():
            out = tempfile.mkdtemp(prefix="bench_warc_kg_")
            t0 = time.time()
            q = ev.run_stream_kg_warc(spark, drop, smap, out, n_buckets=16)
            try:
                q.processAllAvailable()
            finally:
                dt = time.time() - t0
                prog = [_json.loads(p.json) for p in q.recentProgress]
                q.stop()
            add_ms = sum(p["durationMs"].get("addBatch", 0)
                         for p in prog if p.get("numInputRows"))
            return dt, add_ms, out

        cold_s, cold_add, out1 = soak()
        warm_s, warm_add, out2 = soak()
        n_triples = ev.read_stream_kg(spark, out2).count()

        # true BATCH equivalent of one soak (VERDICT r07 #7): read_warc
        # gzip decode -> fused link -> epoch-partitioned sink write —
        # the r07 parity claim (warm stream ~= this) becomes a number
        # tracked every round instead of a one-off BENCH.md note
        def batch_equiv() -> float:
            bdir = tempfile.mkdtemp(prefix="bench_warc_batch_")
            t0 = time.time()
            from pyspark.sql import functions as F

            bp = (warc_src.read_warc(spark, drop + "/*.warc.gz")
                  .withColumn("lang", F.lit(None).cast("string")))
            bt = materialize.mention_triples(
                mentions.detect_and_link(bp, smap, from_html=True))
            (bt.withColumn("bucket",
                           F.pmod(F.xxhash64("subj"), F.lit(16)))
               .withColumn("epoch", F.lit(0))
               .write.mode("overwrite").partitionBy("epoch", "bucket")
               .parquet(f"{bdir}/triples"))
            dt = time.time() - t0
            shutil.rmtree(bdir, ignore_errors=True)
            return dt

        batch_s = min(batch_equiv(), batch_equiv())
        streaming = {
            "archives": n_archives,
            "pages": stream_pages,
            "seconds": round(cold_s, 3),
            "pages_per_sec": round(stream_pages / cold_s),
            "warm_seconds": round(warm_s, 3),
            "warm_pages_per_sec": round(stream_pages / warm_s),
            "add_batch_ms": warm_add,
            "batch_equiv_seconds": round(batch_s, 3),
            "warm_vs_batch": round(warm_s / batch_s, 2),
            "triples": n_triples,
            "triples_per_sec": round(n_triples / warm_s),
        }
        shutil.rmtree(drop, ignore_errors=True)
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)

    # ANN recall probe (VERDICT r06 #6): the recall/cost curve was
    # measured once (r04, scripts/ann_recall.py); this pins ONE
    # operating point per family and re-measures it every round, so a
    # silent recall regression in the LSH/IVF pruning is caught like
    # `guards` catches bucket floods — 5 queries, recall@10 vs brute
    # force on the same embeddings table.
    recall: dict = {}
    if os.environ.get("BENCH_ANN_RECALL", "1") != "0":
        emb_r = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
        qs = [[float(x) for x in r["embedding"]]
              for r in emb_r.orderBy("vec_id").limit(5).collect()]
        dim = len(qs[0])
        cents = similarity.fixed_centroids(8, dim)
        rec_ivf = rec_lsh1 = rec_lsh3 = 0.0
        for qv in qs:
            exact = {r["vec_id"] for r in
                     similarity.cosine_topk(emb_r, qv, k=10).collect()}
            ivf = {r["vec_id"] for r in similarity.ann_ivf_topk(
                emb_r, qv, k=10, centroids=cents, nprobe=2).collect()}
            lsh1 = {r["vec_id"] for r in similarity.ann_lsh_topk(
                emb_r, qv, k=10, planes=8, probe_hamming=1).collect()}
            lsh3 = {r["vec_id"] for r in similarity.ann_lsh_topk(
                emb_r, qv, k=10, planes=8, probe_hamming=3).collect()}
            rec_ivf += len(ivf & exact) / 10
            rec_lsh1 += len(lsh1 & exact) / 10
            rec_lsh3 += len(lsh3 & exact) / 10

        # CLUSTERED second point (VERDICT r07 #4): the uniform table is
        # hyperplane LSH's worst case (recall ~tracks probed fraction);
        # real embedding corpora are clustered, where a TIGHT radius is
        # cheap AND accurate.  Deterministic 16-cluster mixture (seeded
        # numpy), same row count, tracked next to the worst case so the
        # operating-point guidance in DESIGN.md stays measured.
        import numpy as _np
        import pandas as _pd

        rng = _np.random.default_rng(8)
        n_cl = emb_r.count()
        cents_cl = rng.uniform(-0.5, 0.5, size=(16, dim))
        asg = rng.integers(0, 16, size=n_cl)
        vecs = cents_cl[asg] + rng.normal(0, 0.05, size=(n_cl, dim))
        emb_cl = spark.createDataFrame(_pd.DataFrame({
            "vec_id": _np.arange(n_cl, dtype="int64"),
            "embedding": [r.astype("float32") for r in vecs],
        })).cache()
        rec_lsh_cl = rec_ivf_cl = 0.0
        qcl = [[float(x) for x in vecs[i]] for i in range(5)]
        cents_tr = similarity.train_ivf_centroids(emb_cl, k=8, iters=2)
        for qv in qcl:
            exact = {r["vec_id"] for r in
                     similarity.cosine_topk(emb_cl, qv, k=10).collect()}
            lsh = {r["vec_id"] for r in similarity.ann_lsh_topk(
                emb_cl, qv, k=10, planes=8, probe_hamming=1).collect()}
            ivf_cl = {r["vec_id"] for r in similarity.ann_ivf_topk(
                emb_cl, qv, k=10, centroids=cents_tr, nprobe=2).collect()}
            rec_lsh_cl += len(lsh & exact) / 10
            rec_ivf_cl += len(ivf_cl & exact) / 10
        recall = {"k": 10, "queries": len(qs),
                  "ivf_nprobe2_of8": round(rec_ivf / len(qs), 3),
                  "lsh_hamming1_of8planes": round(rec_lsh1 / len(qs), 3),
                  "lsh_hamming3_of8planes_default":
                      round(rec_lsh3 / len(qs), 3),
                  "lsh_hamming1_clustered":
                      round(rec_lsh_cl / len(qcl), 3),
                  "ivf_nprobe2_clustered_lloyd":
                      round(rec_ivf_cl / len(qcl), 3)}
        emb_cl.unpersist()
        emb_r.unpersist()

    codegen = {k: v - codegen0[k]
               for k, v in codegen_counters(spark).items()}
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "rows": counts,
        "reps": reps,
        "triples_per_sec": round(counts["kg_full_build"] / timings["kg_full_build"]),
        "pages_per_sec": round(N_PAGES / timings["web_pipeline"]),
        "cpus": cpus(),
        "host": {"start": host_start, "end": _host_load()},
        "codegen": codegen,
    }
    if steady:
        out["steady_state"] = steady
    if streaming:
        out["streaming"] = streaming
    if guard_stats:
        out["guards"] = guard_stats
    if recall:
        out["recall"] = recall
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
