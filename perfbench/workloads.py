"""The benchmark workloads.

Each workload writes its seeded inputs before the session starts
(``inputs``), prepares what its op reads (``setup``), and runs one op at a
time (``op``), returning the items the op completed and whether its output
matched the counts expected for the seed.  The program is reached only
through its public functions: ``operators.build``, ``plans.workload``,
``operators.graph``, ``pipeline.mentions``, ``pipeline.materialize`` and
``operators.dedup``.
"""

from __future__ import annotations

import os

import inputs

# Input sizes.  "full" is what the benchmark measures.  "small" is the
# sf0.001 world: most warm-up ops run on it (same plans and code paths, so
# the per-op planning, codegen and JIT costs level off at a fraction of the
# cost; one full op then warms the per-row paths) and so does the smoke
# self-test.
SIZES = {
    "full": {"sf": 0.1, "replicate": 1, "pages": 30_000, "page_files": 8,
             "surfaces": 5000, "docs": 15_000, "doc_files": 8},
    "small": {"sf": 0.001, "replicate": 2, "pages": 400, "page_files": 4,
              "surfaces": 100, "docs": 400, "doc_files": 4},
}


def parquet_rows(path: str) -> int:
    """Rows in a written parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Workload:
    """Base: ``ctx`` carries spark, tracer, seed and counters; ``work`` is
    this instance's directory for inputs and outputs."""

    item = "item"
    warmup = (0, 0)  # ops on the small world, then on the measured one

    def __init__(self, ctx, size: dict, work: str):
        self.ctx, self.size, self.work = ctx, size, work
        self.gaz = os.path.join(work, "gazetteer")
        self.expected: dict = {}

    def inputs(self) -> None:
        os.makedirs(self.gaz, exist_ok=True)
        inputs.gazetteer(self.gaz, self.size["sf"], self.ctx.seed)

    def reference_args(self):
        """(inputs dir, replicate, request) for reference.py."""
        raise NotImplementedError

    def on_reference(self, ref: dict) -> None:
        """Takes reference.py's output (before the session starts)."""

    def instrument(self) -> None:
        """Traced runs: wrap program functions in spans."""

    def setup(self) -> None:
        pass

    def op(self) -> tuple[int, bool]:
        """Run one op; (items completed, output matched the expected)."""
        raise NotImplementedError

    def extras(self) -> dict:
        """Traced runs: per-layer numbers that need a call of their own,
        taken after the timed region."""
        return {}


QUERIES = ("c2_population", "c4_descendants", "c8_hierarchy", "c9_museums",
           "ancestors", "municipalities")


class Kg(Workload):
    """The KG write and its read side: build_kg over the seeded gazetteer,
    written to parquet, then the six canned queries, one after the other,
    against the KG just written."""

    item = "triple"
    warmup = (2, 1)

    def __init__(self, ctx, size, work):
        super().__init__(ctx, size, work)
        self.lit = self.pick_literals()

    def pick_literals(self) -> dict:
        import numpy as np

        rng = np.random.default_rng([self.ctx.seed, 4])
        n_cust = int(round(inputs.CUSTOMERS_PER_SF * self.size["sf"]))
        # features with k % 23 == 0 have no population and are dropped
        places = [k for k in range(110, n_cust) if k % 23]
        return {
            # ADM1 features of country C0 (the AGS country): k = 5, 10, 15
            "adm1": int(rng.choice([5, 10, 15])),
            "place": int(rng.choice(places)),
            # ADM3 feature; the reference replaces it with a seeded pick
            # among the features that parent museums
            "city": 66,
        }

    def reference_args(self):
        return self.gaz, self.size["replicate"], {"literals": self.lit,
                                                  "seed": self.ctx.seed}

    def setup(self):
        self.out = os.path.join(self.work, "kg")

    def on_reference(self, ref):
        self.expected.update(ref)
        self.lit["city"] = ref["city"]

    def instrument(self):
        """A span around each transitive_closure call; the edge list it was
        given is kept, and counted after the timed region."""
        from geonames_rdf_spark.operators import graph

        fn = graph.transitive_closure

        def traced(edges, *a, **k):
            self.closure_edges = edges
            with self.ctx.tracer.span("graph.closure"):
                return fn(edges, *a, **k)

        graph.transitive_closure = traced

    def extras(self):
        """``graph.edges``: rows of the edge list the last closure pulled."""
        edges = getattr(self, "closure_edges", None)
        return {} if edges is None else {"graph.edges": float(edges.count())}

    def _query(self, kg, name: str):
        from geonames_rdf_spark import oracle
        from geonames_rdf_spark.plans import workload

        adm1, place, city = (f"{oracle.SWS}{self.lit[k]}/"
                             for k in ("adm1", "place", "city"))
        return {
            "c2_population": lambda: workload.q_population(kg),
            "c4_descendants": lambda: workload.q_descendants(kg, adm1),
            "c8_hierarchy": lambda: workload.q_hierarchy_report(kg, place),
            "c9_museums": lambda: workload.q_museums(kg, city),
            "ancestors": lambda: workload.q_ancestors(kg, place),
            "municipalities": lambda: workload.q_municipalities(kg, adm1),
        }[name]()

    def op(self):
        from geonames_rdf_spark.operators import build

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("build.plan"):
            kg = build.build_kg(spark, self.gaz, replicate=self.size["replicate"])
        with tr.span("build.exec"):
            kg.write.mode("overwrite").parquet(self.out)
        n = parquet_rows(self.out)
        ok = n == self.expected.get("triples")
        kg = spark.read.parquet(self.out)
        for name in QUERIES:
            with tr.span(f"query.{name}.plan"):
                df = self._query(kg, name)
            with tr.span(f"query.{name}.exec") as attrs:
                attrs["rows"] = rows = len(df.collect())
            ok = ok and rows == self.expected.get("rows", {}).get(name)
        return n, ok


class Web(Workload):
    """The crawl side: ingest stored pages (scored surface map, fused
    detect-and-link, mention triples, parquet write), then MinHash LSH
    near-duplicate pairs at threshold 0.5 over a corpus of one-word-edit
    families."""

    item = "document"
    warmup = (4, 1)
    THRESHOLD = 0.5

    def inputs(self):
        super().inputs()
        self.docs_dir = os.path.join(self.work, "docs")
        nd = inputs.near_dup_docs(self.docs_dir, self.size["docs"],
                                  self.ctx.seed, self.size["doc_files"])
        self.expected.update({"docs": nd["docs"], "pairs": nd["pairs"]})

    def reference_args(self):
        return self.gaz, 1, {"surfaces": self.size["surfaces"]}

    def on_reference(self, ref):
        """The pages mention the reference's best names."""
        self.pages_dir = os.path.join(self.work, "pages")
        self.expected["mention_triples"] = inputs.pages(
            self.pages_dir, ref["surfaces"], self.size["pages"], self.ctx.seed,
            self.size["page_files"])

    def setup(self):
        from geonames_rdf_spark.operators import build

        spark = self.ctx.spark
        self.out = os.path.join(self.work, "mention_triples")
        self.features = build.gazetteer_tables(spark, self.gaz)["features"]
        self.docs = spark.read.parquet(self.docs_dir)

    def op(self):
        ok = self._ingest() & self._near_dups()
        return self.size["pages"] + self.expected["docs"], ok

    def _ingest(self) -> bool:
        from geonames_rdf_spark.pipeline import materialize, mentions

        tr = self.ctx.tracer
        pages = self.ctx.spark.read.parquet(self.pages_dir)
        with tr.span("mentions.surface_map"):
            smap = mentions.build_scored_surface_map(self.features)
        with tr.span("mentions.link_plan"):
            linked = mentions.detect_and_link(pages, smap, from_html=True)
            triples = materialize.mention_triples(linked)
        with tr.span("materialize.write"):
            triples.write.mode("overwrite").parquet(self.out)
        n = parquet_rows(self.out)
        c = self.ctx.counts
        c["materialize.triples_out"] += n
        if self.ctx.sql:
            # rows out of the MapInPandas nodes of this plan only
            c["mentions.out"] += self.ctx.sql.collect()["python.rows_out"]
        return n == self.expected.get("mention_triples")

    def _near_dups(self) -> bool:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from geonames_rdf_spark.operators import dedup

        obs = Observation()
        with self.ctx.tracer.span("dedup.near_dups"):
            pairs = dedup.minhash_near_dups(self.docs, threshold=self.THRESHOLD,
                                            guard_observation=obs)
            fam = F.lit(inputs.VARIANTS)
            n, cross = pairs.agg(
                F.count(F.lit(1)),
                F.sum(F.when(F.floor(F.col("id_a") / fam)
                             != F.floor(F.col("id_b") / fam), 1)
                      .otherwise(0))).collect()[0]
        guard = obs.get
        oversized = int(guard.get("oversized_rows", 0))
        c = self.ctx.counts
        c["dedup.pairs_out"] += n
        c["dedup.guard_oversized_rows"] += oversized
        c["dedup.guard_total_rows"] += int(guard.get("total_rows", 0))
        return n == self.expected["pairs"] and not cross and not oversized

    def extras(self):
        """The signature stage on its own (its MapInPandas metrics sit
        below the near-dup plan's localCheckpoint and are lost there), then
        the LSH candidate pairs on the path minhash_near_dups takes (over
        the distinct signatures) and the share of them that pass the
        threshold.  Pairs of documents with identical signatures never
        become candidates, so that share is not pairs_out / candidates."""
        from pyspark.sql import functions as F

        from geonames_rdf_spark.operators import dedup

        tr, sql = self.ctx.tracer, self.ctx.sql
        sql.collect()
        with tr.span("dedup.signatures"):
            dedup.minhash_signatures(self.docs).write.format("noop") \
                .mode("overwrite").save()
        sig_sql = sql.collect()
        _, vsigs = dedup.collapse_identical_signatures(
            dedup.minhash_signatures(self.docs))
        cand, passed = dedup.minhash_similarity(
            vsigs, dedup.lsh_candidate_pairs(vsigs)).agg(
                F.count(F.lit(1)),
                F.count_if(F.col("est_jaccard") >= self.THRESHOLD)).collect()[0]
        sql.collect()
        out = {k: sig_sql[k] for k in ("python.boot_ms", "python.exec_ms",
                                        "python.bytes_sent",
                                        "python.bytes_received")}
        out["dedup.candidate_pairs"] = float(cand)
        out["dedup.pair_yield"] = passed / cand if cand else 0.0
        return out


WORKLOADS = {"kg": Kg, "web": Web}
