"""Focused tests for the round-9 optimization changes: each asserts the
optimized path is VALUE-IDENTICAL to the formulation it replaced (the
round's contract — speed may change, results may not)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geonames_rdf_spark import memo
from geonames_rdf_spark.operators import build, dedup, graph, preshape
from geonames_rdf_spark.pipeline import corpus, mentions
from geonames_rdf_spark.session import local_frame

SF = "/root/testdata/sf0.001"


def test_synthesize_pages_vectorized_parity(spark):
    """The numpy-vectorized page generator emits byte-identical rows to
    the row-wise ``page_fields``/``wrap_html`` pure functions."""
    feats = build.gazetteer_tables(spark, SF)["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    hot = surfaces[:2]
    got = (corpus.synthesize_pages(spark, surfaces, 700)
           .select("url", F.col("warc_ts").cast("long").alias("ts_epoch"),
                   "html", "text", "lang")
           .orderBy("url").toPandas())
    got["html"] = got["html"].map(bytes)
    exp_rows = []
    for i in range(700):
        url, ts, text, lang = corpus.page_fields(i, surfaces, hot)
        exp_rows.append((url, ts, corpus.wrap_html(i, text), text, lang))
    exp = (pd.DataFrame(exp_rows,
                        columns=["url", "ts_epoch", "html", "text", "lang"])
           .sort_values("url").reset_index(drop=True))
    exp["ts_epoch"] = exp["ts_epoch"].astype("int64")
    pd.testing.assert_frame_equal(got, exp)


def test_transitive_closure_local_matches_shuffle(spark):
    """The driver-side BFS computes the same (node, depth) closure as the
    distributed checkpointed loop, including on cycles and diamonds."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("b", "d"), ("d", "e"), ("x", "y"),
         ("c", "a"),  # cycle back to the seed
         ("c", "e")],  # diamond: e reachable at depth 3 two ways
        ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    fast = {(r["node"], r["depth"]) for r in
            graph.transitive_closure(edges, seeds).collect()}
    slow = {(r["node"], r["depth"]) for r in
            graph._closure_shuffle(edges, seeds, 30).collect()}
    assert fast == slow == {("a", 0), ("b", 1), ("c", 2), ("d", 2),
                            ("e", 3)}


@pytest.mark.parametrize("edge_rows,seed,expected", [
    # bigint nodes: a chain with a branch, node keeps the seed's type
    ([(1, 2), (2, 3), (2, 4), (9, 1)], 1, {(1, 0), (2, 1), (3, 2), (4, 2)}),
    ([], 1, {(1, 0)}),  # empty edge list
    ([(1, 2), (2, 3)], 3, {(3, 0)}),  # seed with no out-edges
])
def test_transitive_closure_routes_agree_on_edge_cases(spark, monkeypatch,
                                                       edge_rows, seed,
                                                       expected):
    edges = local_frame(spark, edge_rows, "src bigint, dst bigint")
    seeds = local_frame(spark, [(seed,)], "node bigint")
    # a bound below any edge count sends the call down the shuffle route
    for bound in (graph.LOCAL_EDGE_BOUND, -1):  # local, then shuffle
        monkeypatch.setattr(graph, "LOCAL_EDGE_BOUND", bound)
        got = graph.transitive_closure(edges, seeds)
        assert got.schema.simpleString() == "struct<node:bigint,depth:int>"
        assert not got.schema["depth"].nullable, bound
        assert {(r["node"], r["depth"]) for r in got.collect()} == expected


def test_transitive_closure_local_over_bound_runs_shuffle(spark,
                                                          monkeypatch):
    """An edge list longer than LOCAL_EDGE_BOUND is not pulled whole: the
    bounded pull sees BOUND + 1 rows and the closure runs distributed,
    with the same result as under the bound."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                                  ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    expected = {("a", 0), ("b", 1), ("c", 2), ("d", 3)}
    calls = []
    shuffle = graph._closure_shuffle

    def spy(*args):
        calls.append(args)
        return shuffle(*args)

    monkeypatch.setattr(graph, "_closure_shuffle", spy)
    for bound, routed in ((3, 0), (2, 1)):
        monkeypatch.setattr(graph, "LOCAL_EDGE_BOUND", bound)
        got = graph.transitive_closure(edges, seeds)
        assert {(r["node"], r["depth"]) for r in got.collect()} == expected
        assert len(calls) == routed, bound


def test_transitive_closure_nonconvergence_still_raises(spark, monkeypatch):
    """Both routes raise on a truncated closure and converge, without
    raising, when given exactly enough iterations."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")],
                                  ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["node"])
    for bound in (graph.LOCAL_EDGE_BOUND, -1):  # local, then shuffle
        monkeypatch.setattr(graph, "LOCAL_EDGE_BOUND", bound)
        with pytest.raises(graph.FixpointNotConverged):
            graph.transitive_closure(edges, seeds, max_iter=1)
        assert graph.transitive_closure(edges, seeds,
                                        max_iter=3).count() == 4


def test_best_names_minby_matches_window(spark):
    """min_by aggregation == the former window row_number formulation."""
    gaz = build.gazetteer_tables(spark, SF)
    alt = gaz["alt_names"]
    got = preshape.best_names(alt)
    w = Window.partitionBy("geonameid").orderBy(F.col("alternateNameId"))
    exp = (alt.filter(F.col("isolanguage") == "en")
           .withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("geonameid",
                   F.col("alternateName").alias("bestNameCandidate")))
    g = {(r[0], r[1]) for r in got.collect()}
    e = {(r[0], r[1]) for r in exp.collect()}
    assert g == e and len(g) > 0


def _counts(site: str) -> tuple[int, int]:
    got = memo.stats().get(site, {})
    return got.get("hits", 0), got.get("misses", 0)


def test_build_kg_plan_memo_returns_fresh_datasets(spark):
    """The prepared-plan memo must hand out DISTINCT Dataset objects
    (identical objects would share shuffle/broadcast execution state
    across actions — a silent cross-run intermediate cache), with
    identical content."""
    df1 = build.build_kg(spark, SF)
    hits, misses = _counts("kg")
    df2 = build.build_kg(spark, SF)
    assert _counts("kg") == (hits + 1, misses)  # the plan was reused
    assert df1 is not df2
    assert df1.schema == df2.schema
    assert df1.count() == df2.count()


def test_build_kg_plan_memo_sees_replaced_input(spark, tmp_path):
    """A parquet input replaced under ``sf_dir`` mid-session must not be
    served from the memoized plan: the next build reflects the new file
    (counts checked against the DuckDB oracle on the same files)."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from geonames_rdf_spark import oracle

    sf = str(tmp_path / "sf")
    shutil.copytree(SF, sf)

    def expected():
        con = duckdb.connect()
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM"
                        f" read_parquet('{sf}/{t}.parquet')")
        return con.execute(
            f"SELECT count(*) FROM ({oracle.kg_sql()})").fetchone()[0]

    before = build.build_kg(spark, sf).count()
    assert before == expected()
    kg, gaz = _counts("kg"), _counts("gazetteer")
    path = os.path.join(sf, "customer.parquet")
    table = pq.read_table(path)
    os.chmod(path, 0o644)
    pq.write_table(table.slice(0, table.num_rows // 2), path)
    after = build.build_kg(spark, sf).count()
    # both plan sites miss on the changed listing
    assert _counts("kg") == (kg[0], kg[1] + 1)
    assert _counts("gazetteer") == (gaz[0], gaz[1] + 1)
    assert after == expected()
    assert after < before


def test_gazetteer_tables_memo_isolated_from_caller_mutation(spark):
    t1 = build.gazetteer_tables(spark, SF)
    hits, misses = _counts("gazetteer")
    marker = t1["features"].limit(1)
    t1["features"] = marker
    t1["admin_lookups"][1] = marker
    t2 = build.gazetteer_tables(spark, SF)
    assert _counts("gazetteer") == (hits + 1, misses)  # a memo hit
    assert t2["features"] is not marker
    assert t2["admin_lookups"][1] is not marker


def test_matcher_broadcast_memo_keyed_on_content(spark):
    """Same scored map content -> same broadcast reused; different
    content -> fresh broadcast (the stale-broadcast failure the
    fingerprint guards exist for)."""
    m1 = {"Alpha": [(1, 0.5, "C0")], "Beta": [(2, 0.1, "C1")]}
    m2 = {"Alpha": [(1, 0.5, "C0")], "Beta": [(2, 0.1, "C1")]}
    m3 = {"Alpha": [(1, 0.9, "C0")], "Beta": [(2, 0.1, "C1")]}  # new prior
    b1 = mentions._matcher_broadcast(spark, m1)
    b2 = mentions._matcher_broadcast(spark, m2)
    b3 = mentions._matcher_broadcast(spark, m3)
    assert b1 is b2
    assert b3 is not b1
    assert b3.value[1] == m3
    assert memo.stats()["matcher"]["entries"] == 1


def test_lsh_banding_expr_matches_column_rendering(spark):
    """The expr-string band hashes equal the former Column-API rendering
    (xxhash64 over comma-joined casted band positions)."""
    n_hashes, bands = 8, 4
    rows = [(1, list(range(8))), (2, [7, 1, 2, 3, 9, 9, 9, 9])]
    sigs = spark.createDataFrame(rows, "id bigint, sig array<bigint>")
    rpb = n_hashes // bands
    col_api = sigs.select(
        "id",
        F.posexplode(F.array(*[
            F.xxhash64(F.concat_ws(
                ",", *[F.col("sig")[b * rpb + r].cast("string")
                       for r in range(rpb)]))
            for b in range(bands)
        ])).alias("band", "bucket"))
    got = dedup.lsh_candidate_pairs(sigs, bands=bands, n_hashes=n_hashes)
    # derive expected candidate pairs from the column-API banding
    a, b = col_api.alias("a"), col_api.alias("b")
    exp = (a.join(b, ["band", "bucket"])
           .filter(F.col("a.id") < F.col("b.id"))
           .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
           .distinct())
    assert ({tuple(r) for r in got.collect()}
            == {tuple(r) for r in exp.collect()})


def test_dedup_pages_by_url_minby_ordering(spark):
    """The min_by winner election preserves the former window orderBy
    semantics exactly: earliest warc_ts wins, NULL ts loses to any
    non-null ts (asc_nulls_last), ties broken by smallest raw url."""
    import datetime as dt

    from geonames_rdf_spark.operators import urls
    t0 = dt.datetime(2020, 1, 1)
    t1 = dt.datetime(2020, 1, 2)
    rows = [
        ("https://a.example/x", None, b"null-ts"),
        ("https://a.example/x/", t1, b"later"),      # same canonical
        ("https://C.example/z", t1, b"later2"),
        ("https://c.example/z", t0, b"earliest"),    # same canonical
        ("https://b.example/y?b=1&a=2", t1, b"q1"),
        ("https://b.example/y?a=2&b=1", t1, b"q0"),  # tie: smaller url wins
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp,"
                                     " html binary")
    out = {r["url_canonical"]: (r["url"], bytes(r["html"]))
           for r in urls.dedup_pages_by_url(df).collect()}
    # NULL ts loses to a later non-null ts (asc_nulls_last)
    assert out["https://a.example/x"] == ("https://a.example/x/", b"later")
    # earliest ts wins regardless of raw-url order
    assert out["https://c.example/z"] == ("https://c.example/z", b"earliest")
    # equal ts: lexicographically smallest raw url wins
    assert out["https://b.example/y?a=2&b=1"] == (
        "https://b.example/y?a=2&b=1", b"q0")


def test_run_pipeline_pages_stage_schema_and_extraction(spark):
    """stages['pages'] still exposes the extracted-text corpus with the
    pre-r09 schema, and the fused-scan linked stage matches a scan over
    that extracted text."""
    r = materialize_stages(spark)
    pages = r["pages"]
    assert pages.columns == ["url", "warc_ts", "html", "lang", "text"]
    row = pages.orderBy("url").first()
    from geonames_rdf_spark.pipeline.extract import extract_text_py
    assert row["text"] == extract_text_py(bytes(row["html"]))
    r.unpersist()


def materialize_stages(spark):
    from geonames_rdf_spark.pipeline import materialize
    return materialize.run_pipeline(spark, SF, n_pages=60)
