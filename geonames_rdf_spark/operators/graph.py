"""Graph operators over the triple table (SURVEY.md §2.C4, §4.2-3).

Spark has no recursive query, so transitive closure is an iterative
join-to-fixpoint (BFS frontier) with ``localCheckpoint`` per iteration to
cut lineage — the standard scale pattern: each iteration is one shuffle
bounded by the frontier size, not the full graph.  Connected components
use hash-min label propagation (the GraphFrames-free formulation), used by
the canonicalization stage (sameAs clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark.session import local_frame

# Largest edge list ``transitive_closure`` runs on the driver; a longer
# one runs the distributed route.  Memory sets it, not time.  Measured on a
# 4-core host (Python 3.11, tree-shaped lists of ~33-byte URIs, a seed
# that reaches every node): at 1M-2M edges the driver's Python side
# peaks at 340-400 bytes per edge, ~400 MB at this bound, an eighth of
# what ``session.driver_memory`` leaves beside the heap when 6.4 GB are
# available.  The local route was still the faster one at 1M and 2M
# edges (12 s and 15 s against 16 s and 23 s).  A longer list, such as
# the full gazetteer hierarchy (one edge per feature, over 10M; 4 GB or
# more on the driver), pays one discarded pull of 1M+1 edges (3.0-3.6 s,
# ~300 MB) before the distributed route runs.
LOCAL_EDGE_BOUND = 1_000_000


class FixpointNotConverged(RuntimeError):
    """An iterative graph operator exhausted ``max_iter`` with work left.

    Returning the partial state would be SILENTLY WRONG (an incomplete
    closure / split components), so the loops below raise instead."""


def _handle_nonconverged(op: str, max_iter: int) -> None:
    raise FixpointNotConverged(
        f"{op}: not converged after max_iter={max_iter} iterations —"
        " the result would be an incomplete fixpoint. Raise max_iter.")


def transitive_closure(
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """BFS closure: nodes reachable from ``seeds`` following ``edges``.

    ``edges``: (src, dst).  ``seeds``: (node).  Returns (node, depth) with
    minimal depth; seeds have depth 0.  Equivalent of the SPARQL property
    path ``gn:parentFeature*`` (web/queries/hierarchy.rq:10,
    graph_administrative_subdivisions.rq:10) evaluated as a BFS to
    fixpoint.

    The edge count picks the route.  For the hierarchy closures this
    operator serves, the closure is a handful of nodes and the edge list
    is one parentFeature edge per feature, while the per-level
    distributed loop pays several scheduler round-trips per level
    regardless of data size.  So the call first pulls at most
    ``LOCAL_EDGE_BOUND + 1`` edges to the driver in one Arrow
    ``toPandas`` job:

    * up to ``LOCAL_EDGE_BOUND`` edges, the BFS runs on the driver and
      the (node, depth) closure is returned through
      ``session.local_frame`` (a ``LocalTableScan`` up to Spark's
      local-relation threshold, Arrow batches in the JVM past it).  That
      pull is the only Spark job: the seeds are collected from their own
      relation (no job when they are local rows, as the workload's seeds
      are), and consumers re-read the closure without starting Python
      workers.
    * past the bound, the pull is discarded and ``_closure_shuffle``
      runs: a fully distributed join-to-fixpoint with per-level
      ``localCheckpoint`` lineage cuts, for graphs too large to hold on
      the driver.  The full gazetteer hierarchy (over 10M edges) takes
      this route.  Equivalence of the two routes is pytest-pinned.

    Both routes return ``node`` with the seed column's type and
    ``depth`` as a non-null int.

    Raises :class:`FixpointNotConverged` if the frontier is still
    non-empty after ``max_iter`` rounds (a deeper-than-expected hierarchy
    must fail loudly, not return a silently truncated closure).
    """
    from pyspark.sql import types as T

    pdf = edges.select("src", "dst").limit(LOCAL_EDGE_BOUND + 1).toPandas()
    if len(pdf) > LOCAL_EDGE_BOUND:
        return _closure_shuffle(edges, seeds, max_iter)
    adj: dict = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        adj.setdefault(s, []).append(d)
    depth_of = {r[0]: 0 for r in seeds.select("node").collect()}
    frontier = list(depth_of)
    converged = False
    for depth in range(1, max_iter + 1):
        if not frontier:
            converged = True
            break
        new = {d for n in frontier for d in adj.get(n, ())
               if d not in depth_of}
        if not new:
            converged = True
            break
        for n in new:
            depth_of[n] = depth
        frontier = list(new)
    if not converged and frontier:
        # one last probe: the final frontier may have emptied exactly on
        # the last allowed round (loop ended before the empty-check ran)
        converged = not {d for n in frontier for d in adj.get(n, ())
                         if d not in depth_of}
    if not converged:
        _handle_nonconverged("transitive_closure", max_iter)
    return local_frame(
        edges.sparkSession, list(depth_of.items()),
        T.StructType([T.StructField("node", seeds.schema["node"].dataType),
                      T.StructField("depth", T.IntegerType(), False)]))


def _closure_shuffle(edges: DataFrame, seeds: DataFrame,
                     max_iter: int) -> DataFrame:
    from functools import reduce

    edges = edges.select("src", "dst").cache()
    first = seeds.select("node").distinct().withColumn("depth", F.lit(0))
    first = first.localCheckpoint(eager=True)
    # the visited set is kept as a LIST of per-level checkpointed
    # frontiers and unioned lazily: the anti-join scans the same rows
    # either way, but this saves one eager checkpoint JOB per iteration
    # (at small frontiers the per-job overhead dominates the level cost)
    visited = [first]
    frontier = first
    converged = False
    for depth in range(max_iter):
        result = reduce(DataFrame.unionByName, visited)
        # every row of the frontier carries the SAME depth (level d), so
        # the new level needs only a node-distinct — no min(depth)
        # aggregation
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .join(result, "node", "left_anti")
            .distinct()
            .withColumn("depth", F.lit(depth + 1))
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            converged = True
            break
        visited.append(nxt)
        frontier = nxt
    result = reduce(DataFrame.unionByName, visited)
    if not converged:
        # one last probe: the final frontier may have emptied exactly on
        # the last allowed round (loop ended before the empty-check ran)
        probe = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .join(result, "node", "left_anti")
        )
        converged = probe.isEmpty()
    edges.unpersist()
    if not converged:
        _handle_nonconverged("transitive_closure", max_iter)
    return result


def parent_edges(triples: DataFrame, pred: str) -> DataFrame:
    """(src=subj, dst=obj) edge list for one predicate."""
    return triples.filter(F.col("pred") == pred).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Hash-min connected components over undirected (a, b) edges, with
    POINTER DOUBLING so rounds scale as O(log diameter), not O(diameter).

    Returns (node, component) with component = min node id in the cluster.
    Each round does two shuffles: (1) hash-min — every node takes the min
    label over itself and its neighbours; (2) pointer jump — every node
    re-reads its label's OWN label (``l(v) <- l(l(v))``), so label
    information hops 2^r-ish nodes after r rounds (the Kiveris
    large-star/small-star family's same asymptotic, in two plain joins).
    A 10^6-long sameAs chain converges in ~20 rounds instead of 10^6.
    Checkpointed per round to keep the plan flat.  This is the `sameAs`
    canonicalization kernel (SURVEY.md §4.2) — GraphFrames-free so it
    runs anywhere PySpark does.

    Raises :class:`FixpointNotConverged` when labels are still changing
    after ``max_iter`` rounds — a silently split component would corrupt
    every downstream canonical id.
    """
    sym = edges.select("a", "b").unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node")).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # (1) hash-min: min over own label and neighbours' labels
        neigh = (
            sym.join(labels, sym.b == labels.node)
            .select(sym.a.alias("node"), F.col("component"))
        )
        new_labels = (
            labels.select("node", "component")
            .unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # (2) pointer jump: follow the label one more hop — component ids
        # are node ids, so the label table doubles as the pointer table
        parent = new_labels.select(F.col("node").alias("component"),
                                   F.col("component").alias("_jump"))
        new_labels = (
            new_labels.join(parent, "component", "left")
            .select("node",
                    F.coalesce("_jump", "component").alias("component"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        still = not changed.isEmpty()
        labels = new_labels
        if not still:
            converged = True
            break
    if not converged:
        _handle_nonconverged("connected_components", max_iter)
    return labels
