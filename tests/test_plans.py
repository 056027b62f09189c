"""Physical-plan audits: the plans the engine MUST produce at scale.

These lock in the scale-critical properties — dimension joins broadcast
(never sort-merge), predicate pushdown reaching the parquet scan, top-k as
TakeOrderedAndProject (no global sort) — so a regression that silently
degrades the 100 TB plan fails CI, not production.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab
from geonames_rdf_spark.operators import build
from geonames_rdf_spark.plans import workload
from tests.conftest import SF


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_build_all_joins_broadcast(spark):
    plan = plan_of(build.build_kg(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_kg_build_has_no_window(spark):
    """Winner elections in the KG build (best names, admin lookups) are
    min_by aggregates: a row_number window would sort every partition of
    the alternate-name table."""
    assert "Window" not in plan_of(build.build_kg(spark, SF))


def test_fused_web_pipeline_has_no_arrow_eval(spark):
    """Text extraction rides inside the mention scan's MapInPandas: the
    web pipeline plan has no separate ArrowEvalPython hop (a second
    Arrow round-trip of the whole corpus)."""
    from geonames_rdf_spark.pipeline import materialize

    stages = materialize.run_pipeline(spark, SF, n_pages=200,
                                      include_feature_triples=False)
    try:
        plan = plan_of(stages["triples"])
        assert "MapInPandas" in plan, plan
        assert "ArrowEvalPython" not in plan, plan
    finally:
        stages.unpersist()


@pytest.fixture(scope="module")
def stored_kg(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "kg")
    build.build_kg(spark, SF).write.parquet(path)
    return spark.read.parquet(path)


def test_repeated_kg_op_reuses_generated_classes(spark, tmp_path):
    """The KG op (build, parquet write, the six canned queries) run a
    second time finds its generated classes in the cache: its working set
    (~150 classes at sf0.001) fits ``spark.sql.codegen.cache.maxEntries``.
    At Spark's default of 100 entries the second pass recompiles 105-133
    classes.  The bound allows for a plan variant that some runs take
    and others do not (4 new classes in 1 of 7 measured second passes,
    0 in the rest)."""
    from geonames_rdf_spark import oracle
    from geonames_rdf_spark.session import ENGINE_CONF, codegen_counters

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == ENGINE_CONF[key] == "1000"
    out = str(tmp_path / "kg")

    def kg_op() -> None:
        build.build_kg(spark, SF).write.mode("overwrite").parquet(out)
        kg = spark.read.parquet(out)
        for df in (workload.q_population(kg),
                   workload.q_descendants(kg, oracle.SEED_ADM1),
                   workload.q_hierarchy_report(kg, oracle.SEED_PLACE),
                   workload.q_museums(kg, oracle.SEED_CITY),
                   workload.q_ancestors(kg, oracle.SEED_PLACE),
                   workload.q_municipalities(kg, oracle.SEED_ADM1)):
            df.collect()

    kg_op()
    before = codegen_counters(spark)["janino_compilations"]
    kg_op()
    compiled = codegen_counters(spark)["janino_compilations"] - before
    assert compiled <= 8, f"second pass compiled {compiled} classes"


def test_small_shuffles_keep_one_task_per_core(spark):
    """The shuffle-side parallelism floor: AQE coalesces a small shuffle
    down to ``defaultParallelism`` tasks, not to one or two.  The corpus
    (800 docs) moves well under 1 MB per shuffle, so at Spark's 1 MB
    ``minPartitionSize`` the post-signature stages of
    ``minhash_near_dups`` collapse to one or two tasks; at the
    ``ENGINE_CONF`` value every stage runs at least one task per core
    (its input is parallelized to the core count, so the scan stages do
    too), and the pairs are the same both ways."""
    from geonames_rdf_spark.operators import dedup
    from geonames_rdf_spark.session import ENGINE_CONF

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    assert spark.conf.get(key) == ENGINE_CONF[key] == "1b"
    sc = spark.sparkContext
    par = sc.defaultParallelism
    rows = [(i, f"document {i} about topic {i % 37} with words {i * 7}"
                f" and {i * 13} here today") for i in range(600)]
    rows += [(10000 + i, f"document {i} about topic {i % 37} with words"
                         f" {i * 7} and {i * 13} here tomorrow")
             for i in range(0, 600, 3)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(group: str):
        sc.setJobGroup(group, group)
        try:
            pairs = sorted(tuple(r) for r in
                           dedup.minhash_near_dups(docs, 0.5).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        stages = {sid for j in tracker.getJobIdsForGroup(group)
                  for sid in tracker.getJobInfo(j).stageIds}
        # skipped stages (a reused shuffle) have no info
        tasks = [info.numTasks for info in map(tracker.getStageInfo, stages)
                 if info is not None]
        return pairs, tasks

    pairs, tasks = run("shuffle_floor")
    assert len(pairs) == 200
    assert min(tasks) >= par, f"stage task counts {tasks}"
    try:
        spark.conf.set(key, "1m")
        default_pairs, default_tasks = run("shuffle_floor_1m")
    finally:
        spark.conf.set(key, ENGINE_CONF[key])
    assert min(default_tasks) < par, "corpus too large to show the floor"
    assert default_pairs == pairs


def test_c8_hierarchy_report_exchange_budget(stored_kg):
    """c8 over a stored KG plans at most four exchanges — two shuffles
    (the per-node aggregate, the final sort) and two broadcasts."""
    from geonames_rdf_spark import oracle

    plan = plan_of(workload.q_hierarchy_report(stored_kg, oracle.SEED_PLACE))
    assert sum("Exchange" in line for line in plan.splitlines()) <= 4, plan


def test_hierarchy_queries_read_no_python_rdd(spark, stored_kg):
    """The hierarchy queries over a stored KG plan no ``Scan ExistingRDD``
    (a pickled Python RDD: every job reading it starts Python workers);
    the seeds and the closure are ``LocalTableScan`` relations."""
    from geonames_rdf_spark import oracle
    from geonames_rdf_spark.operators import graph
    from geonames_rdf_spark.session import local_frame

    kg = stored_kg
    for df in (workload.q_ancestors(kg, oracle.SEED_PLACE),
               workload.q_descendants(kg, oracle.SEED_ADM1),
               workload.q_hierarchy_report(kg, oracle.SEED_PLACE)):
        plan = plan_of(df)
        assert "ExistingRDD" not in plan, plan
        assert "LocalTableScan" in plan, plan
    closure = graph.transitive_closure(
        graph.parent_edges(kg, vocab.GN_PARENT_FEATURE),
        local_frame(spark, [(oracle.SEED_PLACE,)], "node string"))
    assert plan_of(closure).startswith("LocalTableScan"), plan_of(closure)


def test_local_frame_is_a_local_relation_that_fails_loudly(spark):
    """``local_frame`` plans a LocalTableScan from rows or pandas, keeps
    the declared types and nullability, and raises where the pickled
    fallback would have carried on."""
    import pandas as pd
    import pyarrow as pa

    from geonames_rdf_spark.session import local_frame

    schema = "k string, n bigint not null"
    for data in ([("a", 1), ("b", 2)],
                 pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})):
        df = local_frame(spark, data, schema)
        assert plan_of(df).startswith("LocalTableScan"), plan_of(df)
        assert df.schema.simpleString() == "struct<k:string,n:bigint>"
        assert not df.schema["n"].nullable
        assert sorted(df.collect()) == [("a", 1), ("b", 2)]
    assert local_frame(spark, [], schema).collect() == []
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [("a", "x")], schema)
    with pytest.raises(ValueError, match="NOT NULL"):
        local_frame(spark, [("a", None)], schema)
    with pytest.raises(ValueError, match="3 fields"):
        local_frame(spark, [("a", 1, "extra")], schema)
    with pytest.raises(ValueError, match="1 fields"):
        local_frame(spark, [("a",)], schema)
    with pytest.raises(ValueError):  # ragged rows
        local_frame(spark, [("a", 1), ("b", 2, "extra")], schema)
    with pytest.raises(ValueError, match="differ"):
        local_frame(spark, pd.DataFrame({"k": ["a"], "n": [1], "x": [0]}),
                    schema)
    # past the local-relation threshold the rows stay Arrow batches in the
    # JVM: still no pickled Python RDD
    key = "spark.sql.execution.arrow.localRelationThreshold"
    spark.conf.set(key, "64b")
    try:
        df = local_frame(spark, [(str(i), i) for i in range(100)], schema)
        assert "Scan ExistingRDD arrow" in plan_of(df), plan_of(df)
        assert df.count() == 100
    finally:
        spark.conf.unset(key)


def test_package_builds_no_relation_outside_local_frame():
    """Every relation the package builds from driver rows goes through
    ``session.local_frame``: a ``createDataFrame`` call anywhere else
    would plan a pickled Python RDD (or fall back to one)."""
    import ast
    import pathlib

    import geonames_rdf_spark

    root = pathlib.Path(geonames_rdf_spark.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == root / "session.py":
            helper = next(n for n in tree.body
                          if isinstance(n, ast.FunctionDef)
                          and n.name == "local_frame")
            allowed = {id(n) for n in ast.walk(helper)}
        offenders += [f"{path.relative_to(root)}:{n.lineno}"
                      for n in ast.walk(tree)
                      if isinstance(n, ast.Attribute)
                      and n.attr == "createDataFrame"
                      and id(n) not in allowed]
    assert not offenders, offenders


def test_jobs_build_sessions_with_engine_conf():
    """Every ``SparkSession.builder`` chain in ``jobs/`` applies
    ``session.ENGINE_CONF`` (``.config(map=ENGINE_CONF)``): a bare
    builder runs with Arrow off, 200 shuffle partitions, a 10 MB
    broadcast threshold and a 100-entry generated-class cache."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "jobs"
    chains, offenders = 0, []
    for path in sorted(root.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Attribute) and n.attr == "builder"
                    and isinstance(n.value, ast.Name)
                    and n.value.id == "SparkSession"):
                continue
            chains += 1
            # the chain applies the dict when some .config(map=ENGINE_CONF)
            # call has this builder inside its receiver
            applies = any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute)
                and c.func.attr == "config"
                and any(k.arg == "map" and isinstance(k.value, ast.Name)
                        and k.value.id == "ENGINE_CONF"
                        for k in c.keywords)
                and any(x is n for x in ast.walk(c))
                for c in ast.walk(tree))
            if not applies:
                offenders.append(f"{path.name}:{n.lineno}")
    assert chains >= 3
    assert not offenders, offenders


#: Every driver pull in the package (``oracle.py``, the test oracle,
#: aside): (module, top-level function) -> what bounds the rows it pulls.
DRIVER_PULLS = {
    ("operators/dedup.py", "embedding_near_dups"):
        "one row: the vector size of the first non-NULL embedding",
    ("operators/graph.py", "transitive_closure"):
        "LOCAL_EDGE_BOUND + 1 edges; the seeds only when the edges fit",
    ("operators/packing.py", "pack_sequences"):
        "one row: the largest bucket's row count",
    ("operators/similarity.py", "pairwise_topk_per_label_blas"):
        "at most 5 over-bound labels, for the error message",
    ("operators/similarity.py", "train_ivf_centroids"):
        "k seed vectors, then k cell means per round",
    ("operators/textstats.py", "train_char_lm"):
        "top_k n-gram counts per order",
    ("pipeline/corpus.py", "gazetteer_surfaces"):
        "at most 5000 distinct names",
    ("pipeline/lineage.py", "done_buckets"):
        "one row per done bucket",
    ("pipeline/mentions.py", "build_scored_surface_map"):
        "one row per gazetteer feature: the dimension table, not pages",
}


def test_driver_pulls_are_allowlisted():
    """Every ``.collect()``, ``.toPandas()``, ``.first()`` and ``.take(``
    call under ``geonames_rdf_spark/`` sits in a (module, function) pair
    of ``DRIVER_PULLS``, which names what bounds its rows, and every pair
    there still pulls: no default path collects an unbounded result to
    the driver unseen."""
    import ast
    import pathlib

    import geonames_rdf_spark

    pkg = pathlib.Path(geonames_rdf_spark.__file__).parent
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "oracle.py":
            continue
        module = str(path.relative_to(pkg))
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            func = (top.name if isinstance(top, (ast.FunctionDef,
                                                 ast.AsyncFunctionDef))
                    else "<module>")
            for n in ast.walk(top):
                if (isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr in {"collect", "toPandas",
                                            "first", "take"}
                        # F.first is the aggregate, not a pull
                        and not (isinstance(n.func.value, ast.Name)
                                 and n.func.value.id == "F")):
                    found.setdefault((module, func), []).append(n.lineno)
    unlisted = {k: v for k, v in found.items() if k not in DRIVER_PULLS}
    assert not unlisted, unlisted
    assert not set(DRIVER_PULLS) - set(found), set(DRIVER_PULLS) - set(found)


#: Defaulted parameters of public package functions that no call sets to
#: another value, kept anyway: (module, function, parameter) -> why.
UNSET_PARAMS_ALLOWED = {
    ("operators/lines.py", "dedup_spans_sql", "n_sentences"):
        "the DuckDB twin keeps the parameters of dedup_spans, which"
        " jobs/run_curate.py sets",
}


def test_every_defaulted_parameter_is_set_somewhere():
    """Each defaulted parameter of a public top-level function under
    ``geonames_rdf_spark/`` (``oracle.py`` aside) is passed a value other
    than its default by at least one call in the repository: the package,
    ``__spark_entry__.py``, ``bench.py``, ``jobs/``, ``scripts/``,
    ``perfbench/`` or ``tests/``.  A value nothing varies is a constant,
    not an option.  Calls match functions by name (``f(...)``,
    ``m.f(...)``, ``partial(f, ...)``, import aliases).  Passing the
    caller's own defaulted parameter through counts only when that
    parameter is set in turn; ``*``/``**`` arguments set nothing.  The
    exceptions in ``UNSET_PARAMS_ALLOWED`` must still be unset."""
    import ast
    import itertools
    import pathlib

    import geonames_rdf_spark

    pkg = pathlib.Path(geonames_rdf_spark.__file__).parent
    root = pkg.parent
    paths = [root / "__spark_entry__.py", root / "bench.py"] + [
        p for d in (pkg, root / "jobs", root / "scripts", root / "perfbench",
                    root / "tests") for p in sorted(d.rglob("*.py"))]

    def value_key(node):  # ``mod.X`` and ``X`` compare equal
        if isinstance(node, (ast.Name, ast.Attribute)):
            return getattr(node, "id", None) or node.attr
        try:
            return repr(ast.literal_eval(node))
        except ValueError:
            return ast.dump(node)

    def name_of(node):
        return getattr(node, "id", None) or getattr(node, "attr", None)

    funcs, by_name, public, calls = {}, {}, [], []

    def visit(node, scope, path, aliases):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = scope + [child]
                if not scope or not isinstance(scope[-1], ast.ClassDef):
                    a = child.args  # module functions and closures
                    pos = [p.arg for p in a.posonlyargs + a.args]
                    defaults = dict(zip(pos[len(pos) - len(a.defaults):],
                                        a.defaults))
                    defaults.update((p.arg, d) for p, d in
                                    zip(a.kwonlyargs, a.kw_defaults)
                                    if d is not None)
                    funcs[child] = (pos, defaults, set(pos) | {
                        p.arg for p in a.kwonlyargs})
                    by_name.setdefault(child.name, []).append(child)
                if (not scope and pkg in path.parents
                        and path.name != "oracle.py"
                        and not child.name.startswith("_")):
                    public.append((str(path.relative_to(pkg)), child))
            elif isinstance(child, ast.ClassDef):
                inner = scope + [child]
            elif isinstance(child, ast.Call):
                args = list(child.args)
                name = name_of(child.func)
                if name == "partial" and args:
                    name = name_of(args.pop(0))
                args = list(itertools.takewhile(
                    lambda x: not isinstance(x, ast.Starred), args))
                calls.append((aliases.get(name, name), args,
                              child.keywords, scope))
            visit(child, inner, path, aliases)

    for path in paths:
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases = {a.asname: a.name for n in ast.walk(tree)
                   if isinstance(n, ast.ImportFrom) for a in n.names
                   if a.asname}
        visit(tree, [], path, aliases)

    def bound_by(scope, var):
        """The enclosing tracked function that takes ``var`` as a
        parameter; None for a local, a global or a method's parameter."""
        for fn in reversed(scope):
            if isinstance(fn, ast.ClassDef):
                return None
            if fn in funcs and var in funcs[fn][2]:
                return fn
        return None

    is_set, changed = set(), True
    while changed:
        changed = False
        for name, args, keywords, scope in calls:
            for fn in by_name.get(name, ()):
                pos, defaults, _ = funcs[fn]
                passed = list(zip(pos, args)) + [
                    (k.arg, k.value) for k in keywords if k.arg]
                for p, v in passed:
                    if (p not in defaults or (fn, p) in is_set
                            or value_key(v) == value_key(defaults[p])):
                        continue
                    outer = isinstance(v, ast.Name) and bound_by(scope, v.id)
                    if (outer and v.id in funcs[outer][1]
                            and (outer, v.id) not in is_set):
                        continue  # the caller's own default, passed on
                    is_set.add((fn, p))
                    changed = True
    unset = {(module, fn.name, p) for module, fn in public
             for p in funcs[fn][1] if (fn, p) not in is_set}
    allowed = set(UNSET_PARAMS_ALLOWED)
    assert not unset - allowed, (len(unset - allowed),
                                 sorted(unset - allowed))
    assert not allowed - unset, sorted(allowed - unset)


def test_memoized_state_lives_only_in_the_memo_module():
    """``memo`` is the one place that keeps state across calls: no other
    module under ``geonames_rdf_spark/`` or ``jobs/`` binds a module-level
    cache (an empty container filled later, a name saying memo or cache,
    an ``lru_cache``/``cache``-decorated function) or sets an attribute on
    a SparkContext."""
    import ast
    import pathlib

    import geonames_rdf_spark

    pkg = pathlib.Path(geonames_rdf_spark.__file__).parent
    paths = sorted(pkg.rglob("*.py")) + sorted(
        (pkg.parent / "jobs").glob("*.py"))
    containers = {"dict", "set", "list", "OrderedDict", "defaultdict",
                  "Counter", "WeakKeyDictionary", "WeakValueDictionary"}

    def name_of(node):
        return (node.id if isinstance(node, ast.Name) else
                node.attr if isinstance(node, ast.Attribute) else "")

    def is_sc(node):  # ``<x>.sparkContext`` or a name ``sc``
        return name_of(node) in {"sparkContext", "sc", "_sc"}

    def top_level(body):  # module statements, also under if/try/with
        for n in body:
            yield n
            if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                for field in ("body", "orelse", "handlers", "finalbody"):
                    yield from top_level(getattr(n, field, []))

    offenders = []
    for path in paths:
        if path == pkg / "memo.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        where = str(path.relative_to(pkg.parent))
        for n in top_level(tree.body):
            if isinstance(n, (ast.Assign, ast.AnnAssign)) and n.value:
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                v = n.value
                empty = ((isinstance(v, ast.Dict) and not v.keys)
                         or (isinstance(v, ast.List) and not v.elts)
                         or (isinstance(v, ast.Call)
                             and name_of(v.func) in containers))
                named = any(w in name_of(t).lower() for t in targets
                            for w in ("memo", "cache"))
                if empty or named:
                    offenders.append(f"{where}:{n.lineno}")
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for d in n.decorator_list:
                    f = d.func if isinstance(d, ast.Call) else d
                    if name_of(f) in {"lru_cache", "cache"}:
                        offenders.append(f"{where}:{n.lineno}")
        for n in ast.walk(tree):
            if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                if any(isinstance(t, ast.Attribute) and is_sc(t.value)
                       for t in targets):
                    offenders.append(f"{where}:{n.lineno}")
            if (isinstance(n, ast.Call) and name_of(n.func) == "setattr"
                    and n.args and is_sc(n.args[0])):
                offenders.append(f"{where}:{n.lineno}")
    assert not offenders, offenders


def test_triple_scan_predicate_pushdown(spark, tmp_path):
    path = str(tmp_path / "triples_parquet")
    build.build_kg(spark, SF).write.parquet(path)
    t = spark.read.parquet(path)
    q = t.filter(F.col("pred") == "http://www.geonames.org/ontology#name") \
         .select("subj", "obj")
    plan = plan_of(q)
    assert "PushedFilters: [" in plan and "pred" in plan.split("PushedFilters")[1][:200]
    # column pruning: html-sized columns are absent from ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "obj_lang" not in read_schema


def test_topk_uses_take_ordered(spark):
    kg = build.build_kg(spark, SF)
    plan = plan_of(workload.q_population(kg, limit=100))
    assert "TakeOrderedAndProject" in plan


def test_entity_table_single_shuffle(spark, tmp_path):
    path = str(tmp_path / "triples_parquet2")
    build.build_kg(spark, SF).write.parquet(path)
    t = spark.read.parquet(path)
    e = workload.entity_table(t, {"name": "http://www.geonames.org/ontology#name",
                                  "pop": "http://www.geonames.org/ontology#population"})
    plan = plan_of(e)
    # one hash-aggregate pair around exactly one exchange — the star join
    # never becomes N self-joins
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_code_labels_in_kg_broadcasts_label_side(spark):
    """C12 self-join: the concept-label slice must broadcast — a
    sort-merge here would shuffle every featureCode row at corpus scale."""
    kg = build.build_kg(spark, SF)
    plan = plan_of(workload.q_code_labels_in_kg(kg))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_stored_index_partition_pruning(spark, tmp_path):
    """The stored IVF index is partitioned by _cell and a probe PRUNES to
    the nprobe partitions — at 10^12 vectors this is the difference
    between a metadata lookup and a full corpus scan."""
    from geonames_rdf_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = similarity.fixed_centroids(k=8, dim=len(
        emb.select("embedding").first()["embedding"]))
    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(emb, cents, path)
    q = [0.1] * len(cents[0])
    probed = similarity.ann_ivf_topk_stored(spark, path, q, cents)
    plan = plan_of(probed)
    # the _cell predicate must be a PARTITION filter (metadata), not a
    # pushed data filter
    part = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "_cell" in part
    # correctness of the stored path: same result as the inline probe
    inline = similarity.ann_ivf_topk(emb, q, centroids=cents, nprobe=2)
    assert [r.asDict() for r in probed.collect()] == \
        [r.asDict() for r in inline.collect()]
    # functional pruning proof: physically remove every NON-probed
    # partition directory — the probe must still succeed (it never reads
    # them), while a pre-listed full scan must fail on the missing files
    import glob as _glob
    import shutil

    probe_cells = set(similarity.nearest_cells(cents, q, 2))
    full_before = spark.read.parquet(path)
    removed = 0
    for d in _glob.glob(path + "/_cell=*"):
        if int(d.rsplit("=", 1)[1]) not in probe_cells:
            shutil.rmtree(d)
            removed += 1
    assert removed > 0
    assert [r.asDict() for r in probed.collect()] == \
        [r.asDict() for r in inline.collect()]
    with pytest.raises(Exception):
        full_before.count()


def test_stratified_sampler_pushes_zero_rate_strata(spark):
    """Rate-0 strata become an explicit NOT-IN predicate that reaches the
    parquet scan (the md5 threshold itself cannot push) — at corpus scale
    a zeroed-out boilerplate source is skipped at the IO layer."""
    from geonames_rdf_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.sample_stratified(
        docs, {"src0": 0.0, "src1": 0.5}, default_rate=1.0)
    plan = plan_of(out)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "source" in pushed
    assert out.filter("source = 'src0'").count() == 0


def test_chunk_documents_no_shuffle_single_codegen(spark):
    """chunk_documents is ONE narrow map stage: no Exchange in the plan
    (a shuffle here would re-distribute the full corpus text for what is
    a per-row transform) and the whole chain stays JVM-side (no Python
    evals)."""
    from geonames_rdf_spark.operators import packing

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(packing.chunk_documents(docs))
    assert "Exchange" not in plan, plan
    for marker in ("ArrowEval", "BatchEval", "PythonUDF", "MapInPandas"):
        assert marker not in plan, plan


def test_redact_pii_no_shuffle_no_python(spark):
    """redact_pii is pure codegen regexp work: no Exchange, no Python
    boundary — the corpus-scale PII pass is a map-only scan."""
    from geonames_rdf_spark.operators import privacy

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(privacy.redact_pii(docs))
    assert "Exchange" not in plan, plan
    for marker in ("ArrowEval", "BatchEval", "PythonUDF", "MapInPandas"):
        assert marker not in plan, plan


def test_normalize_url_no_shuffle_dedup_single_exchange(spark):
    """URL canonicalization is a zero-exchange codegen map; the URL-level
    dedup adds exactly ONE exchange (the canonical-url window)."""
    from geonames_rdf_spark.operators import urls

    pages = spark.createDataFrame(
        [("http://a.com/x", "t1")], "url string, warc_ts string")
    norm = pages.select(urls.normalize_url_expr(F.col("url")))
    plan_n = plan_of(norm)
    assert "Exchange" not in plan_n and "PythonUDF" not in plan_n
    plan_d = plan_of(urls.dedup_pages_by_url(pages))
    assert plan_d.count("Exchange") == 1, plan_d


def test_registered_domain_no_shuffle_no_python(spark):
    """registered_domain_expr is pure codegen Column work: no Exchange,
    no Python in the plan — it fuses into whatever scan precedes it, so
    tagging 10^12 pages with their publisher costs zero extra passes."""
    from geonames_rdf_spark.operators import domains

    pages = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "concat('https://h', doc_id % 7, '.example.co.uk/p',"
        " doc_id) AS url")
    plan = plan_of(pages.select(
        domains.registered_domain_expr(F.col("url")).alias("domain")))
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_cap_per_domain_plan_starts_no_job(spark):
    """Building ``cap_per_domain``'s plan runs no Spark job: the counts,
    the over-cap set's joins and the window are all lazy, so the cap
    costs nothing until the caller runs the plan it returns."""
    from geonames_rdf_spark.operators import domains

    pages = spark.createDataFrame(
        [(f"https://d{i % 8}.com/p{i}", f"2026-01-{i % 28 + 1:02d}")
         for i in range(80)],
        "url string, warc_ts string")
    sc = spark.sparkContext
    sc.setJobGroup("cap_plan", "cap_plan")
    try:
        capped = domains.cap_per_domain(pages, max_docs=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("cap_plan")) == []
    assert capped.filter("domain_kept").count() == 8 * 3


def test_dedup_lines_winner_exchange_carries_keys_not_text(spark):
    """The line-dedup winner-election aggregation must shuffle only the
    md5 key + the partial-min (doc_id, pos) struct — never the line
    text (DESIGN.md's shuffle-inventory claim, pinned).  The formatted
    explain lists each Exchange's input attributes; a window/row_number
    formulation would show [doc_id, pos, line, _k] here instead."""
    from geonames_rdf_spark.operators import lines as L

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    df = L.dedup_lines(docs, min_chars=2)
    fmt = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    election = [
        b for b in fmt.split("\n\n")
        if b.splitlines() and "Exchange" in b.splitlines()[0]
        and "hashpartitioning(_k" in b and "min#" in b
    ]
    assert election, fmt  # the key-only winner election exists
    for b in election:
        inputs = b.split("Input")[1].splitlines()[0]
        assert "line" not in inputs and "text" not in inputs, b
