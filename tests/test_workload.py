"""Query-workload semantics (SURVEY.md §2.C) on the sf0.001 KG."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark import oracle, vocab
from geonames_rdf_spark.operators import build, graph
from geonames_rdf_spark.plans import workload
from tests.conftest import SF


@pytest.fixture(scope="module")
def kg(spark):
    df = build.build_kg(spark, SF).cache()
    df.count()
    yield df
    df.unpersist()


def test_ancestors_bfs(kg):
    rows = {r["feature"]: r["depth"]
            for r in workload.q_ancestors(kg, oracle.SEED_PLACE).collect()}
    # 110 -> ADM3 70 -> ADM2 40 -> ADM1 10 -> country 0
    assert rows == {
        f"{vocab.SWS}110/": 0, f"{vocab.SWS}70/": 1, f"{vocab.SWS}40/": 2,
        f"{vocab.SWS}10/": 3, f"{vocab.SWS}0/": 4,
    }


def test_descendants_contains_subtree(kg):
    nodes = {r["feature"]
             for r in workload.q_descendants(kg, oracle.SEED_ADM1).collect()}
    assert f"{vocab.SWS}10/" in nodes      # the root itself
    assert f"{vocab.SWS}40/" in nodes      # ADM2 child
    assert f"{vocab.SWS}110/" in nodes     # leaf place
    assert f"{vocab.SWS}1/" not in nodes   # a country is not in the subtree


def test_population_topk_sorted(kg):
    rows = workload.q_population(kg).collect()
    pops = [r["population"] for r in rows]
    assert pops == sorted(pops, reverse=True)
    assert all(p > 500_000 for p in pops)


def test_longest_name_keeps_ties(spark):
    from geonames_rdf_spark.operators.places import TRIPLE_SCHEMA

    rows = [
        ("s1", vocab.GN_OFFICIAL_NAME, "Abcd", False, "en", None),
        ("s1", vocab.GN_OFFICIAL_NAME, "Wxyz", False, "en", None),  # tie
        ("s1", vocab.GN_OFFICIAL_NAME, "Ab", False, "en", None),
        ("s1", vocab.GN_OFFICIAL_NAME, "Laenger", False, "de", None),
    ]
    t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = workload.q_longest_names(t, vocab.GN_OFFICIAL_NAME, "en").collect()
    # NOT EXISTS (strictly longer) keeps both max-length names
    assert sorted(r["name"] for r in out) == ["Abcd", "Wxyz"]


def test_museums_distances_ascending(kg):
    rows = workload.q_museums(kg, oracle.SEED_CITY).collect()
    assert len(rows) >= 1
    d = [r["distance_in_metre"] for r in rows]
    assert d == sorted(d)


def test_connected_components():
    from geonames_rdf_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], ["a", "b"]
    )
    cc = {r["node"]: r["component"]
          for r in graph.connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["p"] == "p"


def test_connected_components_log_rounds_on_long_chain(spark):
    """Pointer doubling: a 120-node chain converges within ~log2 rounds.
    The old one-hop hash-min needed ~120 rounds here and would raise."""
    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint")
    cc = graph.connected_components(edges, max_iter=12).collect()
    assert {r["component"] for r in cc} == {0}
    assert len(cc) == n


def test_fixpoint_truncation_raises(spark):
    """Exhausting max_iter with work left must fail loudly, not return a
    silently incomplete closure / split components."""
    n = 30
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    with pytest.raises(graph.FixpointNotConverged):
        graph.transitive_closure(chain, seeds, max_iter=3)
    with pytest.raises(graph.FixpointNotConverged):
        graph.connected_components(
            chain.withColumnsRenamed({"src": "a", "dst": "b"}), max_iter=1)


def test_transitive_closure_exact_boundary_converges(spark):
    """A depth-d closure with max_iter=d converges (the post-loop probe
    must not false-positive when the frontier empties on the last round)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = graph.transitive_closure(chain, seeds, max_iter=3)
    assert out.count() == 4
