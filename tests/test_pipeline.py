"""Web-scale KG-construction pipeline tests (north-star stages S1-S7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark.operators import build, skew
from geonames_rdf_spark.pipeline import (
    canonicalize, corpus, extract, lineage, link, materialize, mentions,
)
from geonames_rdf_spark.pipeline.ahocorasick import AhoCorasick
from tests.conftest import SF


@pytest.fixture(scope="module")
def result(spark):
    r = materialize.run_pipeline(spark, SF, n_pages=300)
    r["pages"] = r["pages"].cache()
    r["linked"] = r["linked"].cache()
    return r


def test_extraction_byte_identity(spark):
    """input_hint invariant: extracted text byte-identical per url."""
    tables = build.gazetteer_tables(spark, SF)
    surfaces = corpus.gazetteer_surfaces(tables["features"])
    pages = corpus.synthesize_pages(spark, surfaces, 100)
    re_extracted = pages.withColumn("text2", extract.extract_text(F.col("html")))
    bad = re_extracted.filter(
        F.col("text").cast("binary") != F.col("text2").cast("binary")
    )
    assert bad.count() == 0


def test_extraction_determinism():
    html = b"<html><head><title>T</title></head><body><p>A &amp; B</p></body></html>"
    assert extract.extract_text_py(html) == "A & B"
    assert extract.extract_text_py(html) == extract.extract_text_py(html)


def test_ahocorasick_matches_and_boundaries():
    ac = AhoCorasick(["Paris", "Paris Plage", "London"])
    hits = ac.scan("From Paris Plage to London, not Parisian.")
    got = set(hits)
    assert (5, "Paris") in got          # prefix of longer match, boundary ok
    assert (5, "Paris Plage") in got
    assert (20, "London") in got
    assert not any(p == "Paris" and s == 32 for s, p in hits)  # 'Parisian'


def test_mentions_skew_head(result):
    """Hot surfaces must dominate (Zipf head) — the skew scenario exists."""
    counts = (
        result["mentions"].groupBy("surface").count()
        .orderBy(F.desc("count")).collect()
    )
    assert counts[0]["count"] > 5 * counts[len(counts) // 2]["count"]


def test_linking_deterministic_argmax(result):
    linked = result["linked"]
    # exactly one winner per (url, begin)
    dups = linked.groupBy("url", "begin").count().filter("count > 1")
    assert dups.count() == 0
    # ambiguous surfaces resolved to max-score, min-id
    two = materialize.run_pipeline(linked.sparkSession, SF, n_pages=300)["linked"]
    assert linked.exceptAll(two).count() == 0 and two.exceptAll(linked).count() == 0


def test_salted_join_equivalence(spark):
    big = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(str(i), f"dim{i}") for i in range(7)], ["k", "name"]
    )
    plain = big.join(small, "k").select("k", "v", "name")
    salted = skew.salted_join(big, small, "k", salt_buckets=4).select("k", "v", "name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_actually_spreads_hot_key(spark):
    """The salt must be per-ROW, not key-derived: a hot key's rows have
    to land in MULTIPLE salt buckets or the operator is a no-op for skew
    (the r04 A/B measurement caught exactly this — the equivalence test
    above cannot, because results match either way)."""
    hot = spark.range(1000).select(
        F.lit("London").alias("k"), F.col("id").alias("v"))
    salted = hot.withColumn("_salt", skew.salt_expr(hot, 8))
    n_buckets = salted.select("_salt").distinct().count()
    assert n_buckets == 8  # 1000 rows over 8 salts: every bucket hit
    # and the spread is roughly even (no bucket owns > 2x its fair share)
    mx = salted.groupBy("_salt").count().agg(F.max("count")).collect()[0][0]
    assert mx < 2 * (1000 / 8)


def test_canonicalize_rewrites_links(spark):
    edges = spark.createDataFrame([(1, 5), (5, 9), (20, 21)], ["a", "b"])
    mapping = canonicalize.canonical_map(edges)
    got = {r["geonameid"]: r["canonical"] for r in mapping.collect()}
    assert got[1] == got[5] == got[9] == 1
    assert got[20] == got[21] == 20
    linked = spark.createDataFrame(
        [("u1", "x", 0, 1, 9, 1.0), ("u2", "x", 0, 1, 3, 1.0)],
        ["url", "surface", "begin", "end", "geonameid", "score"],
    )
    rw = canonicalize.rewrite_links(linked, mapping)
    vals = {r["url"]: r["geonameid"] for r in rw.collect()}
    assert vals["u1"] == 1       # 9 -> canonical 1
    assert vals["u2"] == 3       # unmapped id untouched


def crash_on_third_call(triples_for):
    """``triples_for`` that raises when bucket 3's plan is built: a
    sequential run crashes with two buckets done."""
    calls = []

    def crashing(subset):
        calls.append(subset)
        if len(calls) == 3:
            raise RuntimeError("simulated crash")
        return triples_for(subset)

    return crashing


def test_lineage_resume_exact(spark, tmp_path):
    """Kill after k buckets, resume, final triple set == one-shot run —
    reading the corpus from a STORED table path (the production shape
    jobs/run_kg.py --pages-table runs), not the in-memory synth plan."""
    from geonames_rdf_spark.sources import catalog

    tables = build.gazetteer_tables(spark, SF)
    surfaces = corpus.gazetteer_surfaces(tables["features"])
    corpus_path = str(tmp_path / "pages_store")
    corpus.synthesize_pages(spark, surfaces, 120).write.parquet(corpus_path)
    pages = catalog.read_table(spark, corpus_path)
    smap = mentions.build_scored_surface_map(tables["features"])

    def triples_for(subset):
        m = mentions.detect_mentions(subset, smap)
        linked = link.link_mentions(m, tables["features"])
        return materialize.mention_triples(linked)

    out1 = str(tmp_path / "oneshot")
    lineage.run_with_lineage(spark, pages, triples_for, out1, n_buckets=4)

    out2 = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated crash"):
        lineage.run_with_lineage(spark, pages,
                                 crash_on_third_call(triples_for), out2,
                                 n_buckets=4)
    done = lineage.done_buckets(spark, out2)
    assert len(done) == 2
    # a lineage row in the layout written before n_mentions was dropped
    # (always NULL there) still marks its bucket done
    lin = f"{out2}/lineage"
    assert "n_mentions" not in spark.read.parquet(lin).columns
    spark.createDataFrame(
        [(7, None, 9, "done")],
        "n_pages bigint, n_mentions bigint, n_triples bigint, status string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{lin}/bucket={min(done)}")
    assert lineage.done_buckets(spark, out2) == done
    lineage.run_with_lineage(spark, pages, triples_for, out2, n_buckets=4)

    a = lineage.read_triples(spark, out1)
    b = lineage.read_triples(spark, out2)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_lineage_concurrent_buckets_exact(spark, tmp_path):
    """concurrency=4 (thread-pool bucket jobs, private per-bucket output
    dirs so no shared _temporary staging) must produce exactly the
    sequential run's triples AND resume a crashed run exactly."""
    tables = build.gazetteer_tables(spark, SF)
    surfaces = corpus.gazetteer_surfaces(tables["features"])
    pages = corpus.synthesize_pages(spark, surfaces, 120)
    smap = mentions.build_scored_surface_map(tables["features"])

    def triples_for(subset):
        m = mentions.detect_mentions(subset, smap)
        linked = link.link_mentions(m, tables["features"])
        return materialize.mention_triples(linked)

    seq = str(tmp_path / "seq")
    lineage.run_with_lineage(spark, pages, triples_for, seq, n_buckets=4)
    conc = str(tmp_path / "conc")
    lineage.run_with_lineage(spark, pages, triples_for, conc, n_buckets=4,
                             concurrency=4)
    a, b = lineage.read_triples(spark, seq), lineage.read_triples(spark, conc)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert len(lineage.done_buckets(spark, conc)) == 4

    # crash sequentially, resume CONCURRENTLY: same converged set
    res = str(tmp_path / "resumed_conc")
    with pytest.raises(RuntimeError, match="simulated crash"):
        lineage.run_with_lineage(spark, pages,
                                 crash_on_third_call(triples_for), res,
                                 n_buckets=4)
    assert len(lineage.done_buckets(spark, res)) == 2
    lineage.run_with_lineage(spark, pages, triples_for, res, n_buckets=4,
                             concurrency=4)
    c = lineage.read_triples(spark, res)
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0


def test_ntriples_sink_roundtrip(spark, tmp_path, result):
    path = str(tmp_path / "nt")
    t = result["triples"].limit(500)
    materialize.write_ntriples(t, path)
    lines = spark.read.text(path)
    assert lines.count() == 500
    assert lines.filter(~F.col("value").rlike(
        r"^(<[^>]+>|_:[A-Za-z0-9]+) <[^>]+> .+ \.$")).count() == 0


def test_fused_link_equivalence(spark):
    """detect_and_link (fused, in-scan argmax) == detect_mentions +
    link_mentions (staged operators) on ids; scores equal to 1e-6."""
    tables = build.gazetteer_tables(spark, SF)
    feats = tables["features"].cache()
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 250).cache()

    smap = mentions.build_scored_surface_map(feats)
    staged = link.link_mentions(
        mentions.detect_mentions(pages, smap, carry_lang=True), feats)
    fused = mentions.detect_and_link(pages, smap)

    s = {(r["url"], r["begin"]): (r["geonameid"], r["score"])
         for r in staged.collect()}
    f = {(r["url"], r["begin"]): (r["geonameid"], r["score"])
         for r in fused.collect()}
    assert set(s) == set(f)
    for k in s:
        assert s[k][0] == f[k][0], (k, s[k], f[k])
        assert abs(s[k][1] - f[k][1]) < 1e-6


def test_from_html_fusion_equals_staged(spark, result):
    """detect_mentions(from_html=True) == extract-then-scan (byte-identity
    extraction fused into the scan batch, one Python hop)."""
    tables = build.gazetteer_tables(spark, SF)
    smap = mentions.build_scored_surface_map(tables["features"])
    pages = result["pages"].limit(50)
    staged = mentions.detect_mentions(pages, smap, carry_lang=True)
    fused = mentions.detect_mentions(
        pages.drop("text"), smap, carry_lang=True, from_html=True)
    assert staged.exceptAll(fused).count() == 0
    assert fused.exceptAll(staged).count() == 0


def test_pipeline_stages_mapping_protocol(spark):
    r = materialize.run_pipeline(spark, SF, n_pages=20)
    assert "linked" in r and "triples" in r and "pages" in r
    assert set(r.keys()) >= {"pages", "linked", "mentions", "triples"}
    assert len(r) == 4
    assert r.get("linked") is not None
    assert r.get("nonexistent") is None
    # a failing factory stays registered: retry re-raises the root cause
    stages = materialize.PipelineStages(
        {"boom": lambda: (_ for _ in ()).throw(ValueError("root cause"))})
    for _ in range(2):
        try:
            stages["boom"]
            raise AssertionError("should have raised")
        except ValueError as e:
            assert "root cause" in str(e)


def test_rewrite_triples_subj_obj_and_collapse(spark):
    """Canonical rewrite over the TRIPLE table: subject URIs and IRI
    objects map through the canonical id; literals are untouched even
    when their lexical form matches a mapped uri's id; rows that become
    identical after rewriting collapse to one."""
    from geonames_rdf_spark import vocab

    mapping = spark.createDataFrame([(9, 1)], ["geonameid", "canonical"])
    u = lambda i: f"{vocab.SWS}{i}/"  # noqa: E731
    rows = [
        (u(9), vocab.GN_PARENT_FEATURE, u(1), True, None, None),
        (u(1), vocab.GN_PARENT_FEATURE, u(1), True, None, None),  # dup post-rewrite
        (u(2), vocab.GN_NAME, "9", False, None, None),            # literal stays
        (u(2), vocab.RDFS_SEE_ALSO, u(9), True, None, None),      # obj rewritten
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
              " obj_lang string, obj_dt string")
    out = canonicalize.rewrite_triples(t, mapping).collect()
    got = [(r["subj"], r["pred"], r["obj"]) for r in out]
    assert got.count((u(1), vocab.GN_PARENT_FEATURE, u(1))) == 1  # collapsed
    assert (u(2), vocab.GN_NAME, "9") in got                      # literal kept
    assert (u(2), vocab.RDFS_SEE_ALSO, u(1)) in got               # obj mapped
    assert len(got) == 3


def test_run_pipeline_unpersist_releases_caller_owned_caches(spark):
    """run_pipeline persists features + pages; the caches
    are caller-owned and stages.unpersist() must release BOTH (r08 —
    repeated calls in a long-lived session must not accumulate cached
    frames)."""
    jsc = spark.sparkContext._jsc.sc()
    # warm-up call: gazetteer_tables' RAW dimension cache is a
    # session-singleton (CacheManager dedupes the identical plan across
    # calls — the accepted warehouse steady state); measure AFTER it
    # exists so the assertion isolates the per-call frames
    r0 = materialize.run_pipeline(spark, SF, n_pages=50,
                                  include_feature_triples=False)
    assert r0["triples"].count() > 0
    r0.unpersist(blocking=True)
    steady = jsc.getPersistentRDDs().size()
    for _ in range(2):
        r = materialize.run_pipeline(spark, SF, n_pages=50,
                                     include_feature_triples=False)
        assert r["triples"].count() > 0
        r.unpersist(blocking=True)
    assert jsc.getPersistentRDDs().size() == steady
    # stages stay consumable after release (recompute, not KeyError)
    assert r["pages"].count() == 50
