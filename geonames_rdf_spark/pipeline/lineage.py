"""Per-partition lineage + exact resume (stage S7, north_rule).

The corpus is partitioned by ``pmod(xxhash64(url), N)`` buckets.  Each run
writes triples under ``out/triples/bucket=K/`` (a per-bucket directory
OVERWRITE — idempotent per bucket) and a lineage row
(bucket, n_pages, n_triples, status) under ``out/lineage/bucket=K/``.
Resume = read the lineage table, skip buckets already 'done', process the
rest; a re-run after a crash converges to the same triple set because the
bucket-directory overwrite is idempotent.

Writing each bucket to ITS OWN directory (instead of ``partitionBy`` with
dynamic-partition overwrite into a shared root) is what makes bucket jobs
safe to run CONCURRENTLY: Spark's FileOutputCommitter stages work under
``<root>/_temporary``, shared by every job targeting the same root, and
one job's commit/cleanup can delete another's in-flight files.  Per-bucket
roots give every job a private staging dir; the ``bucket=K`` naming keeps
the layout partition-discoverable so readers still see ``bucket`` as a
partition column.  It also drops the session-wide
``partitionOverwriteMode`` mutation the previous revision leaked.

Iceberg would give the same semantics with snapshot isolation
(``replaceWhere``-style); the jar is not in this container, so the
partitioned-parquet layout stands in behind the same API.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geonames_rdf_spark.session import local_frame

# read with an explicit schema, so tables written before the always-NULL
# n_mentions column was dropped still read (parquet resolves by name)
LINEAGE_SCHEMA = "bucket int, n_pages bigint, n_triples bigint, status string"


def done_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    path = f"{out_dir}/lineage"
    if not os.path.exists(path):
        return set()
    rows = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(path)
        .filter(F.col("status") == "done").select("bucket").distinct().collect()
    )
    return {r["bucket"] for r in rows}


def _process_bucket(spark: SparkSession, pages_b: DataFrame,
                    triples_for: "callable", out_dir: str, b: int) -> None:
    """ONE job per bucket: page/triple counts ride the write itself as
    observe() metrics instead of a pre-count plus a re-read count.  The
    lineage row is written AFTER the triple write commits, so a crash
    between the two replays the bucket (idempotent overwrite) rather than
    recording a bucket that never landed."""
    from pyspark.sql import Observation

    obs_pages = Observation(f"lineage_pages_{b}")
    obs_triples = Observation(f"lineage_triples_{b}")
    subset = pages_b.filter(F.col("bucket") == b).observe(
        obs_pages, F.count(F.lit(1)).alias("n"))
    t = triples_for(subset.drop("bucket"))
    t = t.observe(obs_triples, F.count(F.lit(1)).alias("n"))
    t.write.mode("overwrite").parquet(f"{out_dir}/triples/bucket={b}")
    # bucket rides the DIRECTORY name (partition discovery), not the file
    # — a data column duplicating the partition column is a read error
    row = local_frame(
        spark, [(obs_pages.get["n"], obs_triples.get["n"], "done")],
        "n_pages bigint, n_triples bigint, status string",
    )
    row.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/lineage/bucket={b}")


def run_with_lineage(
    spark: SparkSession,
    pages: DataFrame,
    triples_for: "callable",
    out_dir: str,
    n_buckets: int = 8,
    concurrency: int = 1,
) -> None:
    """Process bucket-by-bucket with resume.

    ``triples_for(pages_subset) -> DataFrame`` produces the triples of a
    page subset; it is called once per bucket, in bucket order when
    sequential.  Already-done buckets are skipped.

    ``concurrency > 1`` submits up to that many bucket jobs at once from a
    thread pool: a cluster otherwise idles at every bucket tail (the
    driver-side loop pays fixed job-scheduling latency × N and the last
    straggler task of each bucket serializes).  Each thread tags its jobs
    with a scheduler-pool local property so a session configured with
    ``spark.scheduler.mode=FAIR`` shares executors fairly; under default
    FIFO, concurrent jobs still fill each other's idle slots.  Safe
    because every bucket writes to a PRIVATE directory (no shared
    ``_temporary`` staging — see module docstring) and lineage rows are
    per-bucket directories too.
    """
    pages_b = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    ).cache()
    done = done_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    if concurrency <= 1:
        for b in todo:
            _process_bucket(spark, pages_b, triples_for, out_dir, b)
    else:
        from concurrent.futures import ThreadPoolExecutor

        def worker(b: int) -> None:
            sc = spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", "lineage")
            try:
                _process_bucket(spark, pages_b, triples_for, out_dir, b)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=concurrency) as pool:
            futures = [pool.submit(worker, b) for b in todo]
            for f in futures:
                f.result()  # propagate the first failure
    pages_b.unpersist()


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/triples").drop("bucket")


# --- stage counters (VERDICT r06 #7) ---------------------------------------

def write_stage_counters(spark: SparkSession, out_dir: str, stage: str,
                         counters: dict) -> None:
    """Persist a stage's kept/removed counters as (metric, value) rows
    under ``<out>/stage_metrics/stage=<stage>/``.

    The curation gates (domain cap, line dedup, quality/decontam) each
    report how much corpus they removed; at production scale those
    numbers are run artifacts the NEXT run audits (did the cap suddenly
    eat 30% of the corpus?), not stdout lines.  An LSH guard
    ``Observation`` lands here too: pass its ``.get`` (oversized_rows,
    total_rows — see ``dedup._guard_oversized_buckets``), after the
    action that materialized the observed plan.  Long-only values, one
    private directory per stage (concurrent-writer safe, partition
    discoverable).
    """
    rows = [(str(k), int(v)) for k, v in counters.items() if v is not None]
    df = local_frame(spark, rows, "metric string, value bigint")
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{out_dir}/stage_metrics/stage={stage}")


def read_stage_counters(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/stage_metrics")
