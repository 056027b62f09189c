#!/usr/bin/env python3
"""Benchmark of the KG build, KG queries, web ingest and near-dup layers.

Run from the repository root:

    python3 perfbench/run.py --workload kg --seed 1 --seconds 10 --trace 0

One run: write the seeded inputs, run the reference (DuckDB, child
process), start the Spark session, warm the workload up, then run ops for
``--seconds`` seconds and check every op's output against the counts
expected for the seed.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  A run
record (host stamp, versions, launch settings, op latencies) is printed
on the line before it and kept under ``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "op_p50_ms": "ms",
              "peak_rss_mb": "MB"}

QUERY_LAYER = {f"query.{q}.{m}": u for q in workloads.QUERIES
               for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"),
                            ("rows", "count"))}
PER_LAYER = {
    "session.start_ms": "ms",
    "build.plan_ms": "ms", "build.exec_ms": "ms",
    "exchange.bytes": "B", "exchange.count": "count",
    "scan.ms": "ms", "agg.ms": "ms", "sort.ms": "ms",
    "write.ms": "ms", "write.files": "count", "write.bytes": "B",
    **QUERY_LAYER,
    "graph.closure_ms": "ms", "graph.edges": "count",
    "scan.files_read": "count", "scan.bytes_read": "B",
    "mentions.surface_map_ms": "ms", "mentions.link_plan_ms": "ms",
    "mentions.out": "count",
    "python.boot_ms": "ms", "python.exec_ms": "ms",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "materialize.write_ms": "ms", "materialize.triples_out": "count",
    "materialize.triples_per_page": "count",
    "dedup.signatures_ms": "ms", "dedup.candidate_pairs": "count",
    "dedup.pairs_out": "count", "dedup.pair_yield": "ratio",
    "dedup.guard_oversized_rows": "count", "dedup.guard_total_rows": "count",
    "jvm.gc_ms": "ms", "jvm.live_heap_mb": "MB", "cpu_s_per_item": "s",
    "traced.items_per_s": "1/s",
}

# what the ops count, summed over the timed region
COUNTS = ("materialize.triples_out", "mentions.out", "dedup.pairs_out",
          "dedup.guard_oversized_rows", "dedup.guard_total_rows")
# JVM heap, fixed (-Xms = -Xmx) and pre-touched; sized for a 15 GB host
# with the Python workers beside it
HEAP = "3g"
# a run must end well inside the 180 s limit whatever the host does
DEADLINE_S = 150.0
# inputs, outputs, Spark local dirs (on disk, not tmpfs) and run records,
# relative to the checkout
WORK_DIR = ".bench_work"


def uptime() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0])


def process_start() -> float:
    """This process's start, on the /proc/uptime clock."""
    with open("/proc/self/stat") as f:
        return int(f.read().rsplit(")", 1)[1].split()[19]) / harness.CLK_TCK


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", choices=sorted(workloads.SIZES),
                   help="'small' (sf0.001, no warm-up) is for the smoke test")
    return p.parse_args(argv)


def launch_env(root: str, work: str) -> dict:
    """The JVM and worker launch settings; identical on every run."""
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        # the mapInPandas workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                      if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f'--driver-java-options "-Xms{HEAP} -XX:+AlwaysPreTouch"',
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return {**env, "cores": cores}


def run_reference(request, root: str) -> dict:
    """Expected outputs from reference.py, run to completion in a child."""
    inputs_dir, replicate, args = request
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "reference.py"), inputs_dir,
         str(replicate), json.dumps(args)],
        stdout=subprocess.PIPE, cwd=root, env=os.environ.copy(), timeout=120,
        check=True).stdout
    return json.loads(out)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    pids = harness.tree_pids()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        from geonames_rdf_spark import session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}",
              file=sys.stderr)
        return 2

    host = harness.HostStamp()
    work_root = os.path.join(root, WORK_DIR)
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launch = launch_env(root, work)

    ctx = types.SimpleNamespace(
        seed=args.seed, tracer=harness.Tracer(bool(args.trace)), sql=None,
        counts=dict.fromkeys(COUNTS, 0.0))
    cls = workloads.WORKLOADS[args.workload]
    wl = cls(ctx, workloads.SIZES[args.size], os.path.join(work, "measured"))
    # the smoke test's small world times cold ops; it needs no warm-up
    warmup = cls.warmup if args.size == "full" else (0, 0)
    warm_wl = (cls(ctx, workloads.SIZES["small"], os.path.join(work, "warm"))
               if warmup[0] else None)
    worlds = [w for w in (wl, warm_wl) if w]

    rss = harness.RssSampler()
    try:
        with ctx.tracer.span("setup.inputs"):
            for w in worlds:
                w.inputs()
        # the reference is benchmark code: it runs alone, before the
        # session, and its time is left out of setup_s
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.reference"):
            ref = run_reference(wl.reference_args(), root)
        reference_s = time.perf_counter() - t0
        with ctx.tracer.span("setup.inputs"):
            for w in worlds:
                w.on_reference(ref)
        rss.start()

        from geonames_rdf_spark.session import get_spark

        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_ms = (time.perf_counter() - t0) * 1e3
        ctx.spark = spark
        if args.trace:
            ctx.sql = harness.SqlMetrics(spark)
            wl.instrument()
        try:
            return run(args, ctx, wl, warm_wl, warmup, rss, host, launch,
                       session_ms, t_start, reference_s, work_root)
        finally:
            stop_spark(spark)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(args, ctx, wl, warm_wl, warmup, rss, host, launch, session_ms,
        t_start, reference_s, work_root) -> int:
    """``t_start``: process start on the /proc/uptime clock."""
    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("setup.workload"):
        wl.setup()
        if warm_wl:
            warm_wl.setup()
    # warm-up: small-world ops (the cold ones), then measured-world ops
    warm = []
    for w in [warm_wl] * warmup[0] + [wl] * warmup[1]:
        t0, c0 = time.perf_counter(), harness.tree_cpu_s()
        with tracer.span("warmup.op"):
            w.op()
        warm.append((round((time.perf_counter() - t0) * 1e3, 1),
                     round(harness.tree_cpu_s() - c0, 2)))
    if ctx.sql:
        ctx.sql.collect()
        ctx.sql.reset()

    # ---- timed region
    ctx.counts = dict.fromkeys(COUNTS, 0.0)
    setup_s = uptime() - t_start - reference_s
    gc0, cpu0 = harness.jvm_gc_ms(spark), harness.tree_cpu_s()
    lat, items, failed = [], 0, 0
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < args.seconds or not lat:
        if uptime() - t_start > DEADLINE_S and lat:
            break
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                n, ok = wl.op()
        except Exception:  # noqa: BLE001 - a failed op is counted
            print("perfbench: op failed\n" + traceback.format_exc(),
                  file=sys.stderr)
            n, ok = 0, False
        lat.append(time.perf_counter() - t0)
        items += n if ok else 0
        failed += 0 if ok else 1
    elapsed = time.perf_counter() - t_begin
    cpu = harness.tree_cpu_s() - cpu0
    gc_ms = harness.jvm_gc_ms(spark) - gc0
    peak = rss.peak
    n_ops = len(lat)

    if args.trace:
        ctx.sql.collect()
        metrics = per_layer(ctx, wl, n_ops, items, elapsed, cpu, gc_ms,
                            dict(ctx.sql.total), session_ms)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items / elapsed,
            "op_p50_ms": statistics.median(lat) * 1e3,
            "peak_rss_mb": peak,
        }
        units = END_TO_END

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "item": wl.item, "warmup_ops": warmup,
        "ops": n_ops, "items": items, "failed": failed,
        "expected": wl.expected,
        "warmup_ms_cpu_s": warm,
        "op_ms": [round(x * 1e3, 3) for x in lat],
        "setup_s": setup_s, "reference_s": reference_s,
        "session_start_ms": session_ms,
        "cpu_s": cpu, "gc_ms": gc_ms, "peak_rss_mb": peak,
        "host": host.finish(), "versions": harness.versions(spark),
        "launch": launch,
    }
    rec_dir = os.path.join(work_root, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(rec_dir, stem + "-spans.json"), "w") as f:
            json.dump(tracer.spans, f)
    print("# record " + json.dumps({k: v for k, v in record.items()
                                    if k != "launch"}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": n_ops,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


def per_layer(ctx, wl, n_ops, items, elapsed, cpu, gc_ms, sql_tot,
              session_ms) -> dict:
    tr, spark = ctx.tracer, ctx.spark
    timed = [s for s in tr.spans if s["name"] == "op"]
    first = timed[0]["start"] if timed else 0.0

    def in_timed(name):
        return [s for s in tr.spans if s["name"] == name
                and s["start"] >= first and s["end"] is not None]

    def mean_ms(name):
        ss = in_timed(name)
        return sum((s["end"] - s["start"]) * 1e3 for s in ss) / len(ss) if ss else 0.0

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v / n_ops for k, v in sql_tot.items() if k in m})
    m["session.start_ms"] = session_ms
    m["build.plan_ms"] = mean_ms("build.plan")
    m["build.exec_ms"] = mean_ms("build.exec")
    for q in workloads.QUERIES:
        m[f"query.{q}.plan_ms"] = mean_ms(f"query.{q}.plan")
        m[f"query.{q}.exec_ms"] = mean_ms(f"query.{q}.exec")
        rows = [s["rows"] for s in in_timed(f"query.{q}.exec")]
        m[f"query.{q}.rows"] = sum(rows) / len(rows) if rows else 0.0
    m["graph.closure_ms"] = mean_ms("graph.closure")
    m["mentions.surface_map_ms"] = mean_ms("mentions.surface_map")
    m["mentions.link_plan_ms"] = mean_ms("mentions.link_plan")
    m["materialize.write_ms"] = mean_ms("materialize.write")
    c = ctx.counts
    for k in COUNTS:
        m[k] = c[k] / n_ops
    if isinstance(wl, workloads.Web):
        m["materialize.triples_per_page"] = (m["materialize.triples_out"]
                                             / wl.size["pages"])
    m["jvm.gc_ms"] = gc_ms / n_ops
    m["cpu_s_per_item"] = cpu / items if items else 0.0
    m["traced.items_per_s"] = items / elapsed
    for k, v in wl.extras().items():
        # python.*: the signature stage's share, lost from the timed plans
        m[k] = m[k] + v if k.startswith("python.") else v
    m["dedup.signatures_ms"] = tr.total_ms("dedup.signatures")
    m["jvm.live_heap_mb"] = harness.jvm_live_heap_mb(spark)
    return m


if __name__ == "__main__":
    sys.exit(main())
