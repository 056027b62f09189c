"""Structured Streaming layer (SURVEY.md notes: the reference is batch-only;
streaming is the Spark-native generalization for continuously-arriving
crawl/event data).

Two parts.  The batch event aggregates (windowed stats, JSON props,
exact quantiles, sessionization) are the oracle-checkable twins a
streaming rollup would run.  ``run_stream_kg_warc`` is the one
continuous query: crawl archives landing in a drop directory become
mention triples in an epoch-partitioned, exactly-once store, read back
with ``read_stream_kg`` and compacted with ``compact_stream_kg``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_stats(events: DataFrame) -> DataFrame:
    """Per (event_type, one-hour event-time window) stats.

    Uses date_trunc-style bucketing so the DuckDB oracle matches exactly;
    decimals for the sum to keep cross-engine float determinism.
    """
    bucket = F.window("ts", "60 minutes")
    return (
        events.groupBy(bucket.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # decimal accumulation => exact, order-independent, identical
            # across engines; surfaced as double for a stable pandas dtype
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type", "n", "sum_value", "n_users",
        )
    )


def props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured props column: JSON-extract the ``k`` field and
    aggregate per event type — the Spark-native path for the loosely-typed
    payload columns web-event tables always carry (``get_json_object``
    stays in codegen; no UDF, no schema migration needed when producers
    add fields).  Integer aggregates only — exact and order-independent,
    so the DuckDB twin matches bit-for-bit."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("_k").alias("n_with_k"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


def quantile_event_stats(events: DataFrame) -> DataFrame:
    """Per event type: exact distinct users and the 50/95/99% quantiles
    of ``value``.  With an accuracy (10^6) >= group size the GK sketch
    behind ``percentile_approx`` is *exact* and returns the discrete
    quantile (== DuckDB ``quantile_disc``), so the driver's hash-compare
    certifies the sketch operator end to end; a smaller accuracy is the
    same physical plan at sketch cost."""
    accuracy = 1_000_000
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.percentile_approx("value", 0.5, accuracy).alias("q50"),
        F.percentile_approx("value", 0.95, accuracy).alias("q95"),
        F.percentile_approx("value", 0.99, accuracy).alias("q99"),
        F.count("*").alias("n"),
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Batch sessionization: lag + cumulative gap-count window — the
    classic Spark formulation (session id = user_id + running count of
    gaps > 30 minutes)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet naive timestamps arrive as TIMESTAMP_NTZ; route through LTZ
    # (session tz is pinned UTC) to get epoch seconds
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        events.withColumn("_gap", gap)
        .withColumn(
            "_new_session",
            (F.col("_gap").isNull() | (F.col("_gap") > 30 * 60)).cast("int"),
        )
        .withColumn("session_seq", F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col("user_id"), F.col("session_seq")),
        )
        .drop("_gap", "_new_session")
    )


def run_stream_kg_warc(
    spark: SparkSession,
    warc_dir: str,
    scored_map: dict[str, list[tuple[int, float, str]]],
    out_dir: str,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
):
    """CONTINUOUS KG maintenance from a crawl drop directory:
    ``.warc.gz`` members landing in ``warc_dir`` -> streaming WARC
    parse (``sources.warc.read_warc_stream``) -> fused extract+link ->
    mention triples appended to a bucket-partitioned store via
    ``foreachBatch``.  The crawler's delivery unit (a finished archive)
    is the micro-batch unit and ``max_files_per_trigger`` bounds ingest
    rate.  Returns the StreamingQuery.

    Exactly-once without a transactional sink: each epoch writes under
    its own ``epoch=<id>`` partition with dynamic partition OVERWRITE, so
    a replayed micro-batch (post-crash recovery from the stream
    checkpoint) overwrites its own partition instead of double-appending
    — the same idempotence trick the batch lineage layer uses per url
    bucket.  Triple dedup runs per epoch (batch semantics inside
    foreachBatch); cross-epoch duplicates are possible by design and
    collapse at read/compaction (``read_stream_kg``).

    WARC carries no language metadata, so ``lang`` is NULL — the linker
    scores on the population prior alone (no language bonus), exactly
    the ``detect_and_link`` NULL-lang contract."""
    from geonames_rdf_spark.pipeline import materialize
    from geonames_rdf_spark.pipeline import mentions as m
    from geonames_rdf_spark.sources.warc import read_warc_stream

    pages = read_warc_stream(
        spark, warc_dir,
        max_files_per_trigger=max_files_per_trigger,
    ).withColumn("lang", F.lit(None).cast("string"))
    linked = m.detect_and_link(pages, scored_map, from_html=True)

    def write_batch(df, epoch_id: int) -> None:
        t = materialize.mention_triples(df)
        # dynamic overwrite scoped to THIS writer (a session-conf mutation
        # would silently change every later partitioned overwrite in the
        # same session); the repartition puts each bucket in one write
        # task, so an epoch writes one file per bucket, not one per task
        (t.withColumn("bucket",
                      F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
          .withColumn("epoch", F.lit(int(epoch_id)))
          .repartition("bucket")
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("epoch", "bucket")
          .parquet(f"{out_dir}/triples"))

    return (
        linked.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .start()
    )


def read_stream_kg(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the streamed triple store, collapsing cross-epoch duplicates
    (the compaction a serving layer runs).

    PER-BUCKET compaction: ``bucket = pmod(xxhash64(subj), N)`` is a
    function of ``subj``, so cross-epoch duplicates always share a bucket
    — keeping ``bucket`` among the dedup keys after a repartition ON
    BUCKET makes the aggregation partition-local (HashPartitioning on a
    subset of the grouping keys satisfies the aggregate's required
    distribution: ONE coarse exchange, no second all-columns shuffle, and
    each bucket compacts independently — the incremental-compaction unit
    at corpus scale).  Plan shape is test-pinned."""
    return (
        spark.read.parquet(f"{out_dir}/triples")
        .drop("epoch")
        .repartition("bucket")
        .dropDuplicates()
        .drop("bucket")
    )


def compact_stream_kg(spark: SparkSession, out_dir: str) -> None:
    """WRITE-side compaction of the streamed triple store: collapse all
    epochs of each bucket into a single ``epoch=0`` file set with
    cross-epoch duplicates dropped (same per-bucket partition-local dedup
    as ``read_stream_kg``), then atomically swap directories.

    Run it with the stream stopped (or accept that a later epoch REPLAY
    may re-introduce rows the compactor already folded — harmless,
    because ``read_stream_kg``'s dedup remains the correctness layer;
    compaction is the IO optimization that keeps file counts and scan
    width bounded as epochs accumulate).  An Iceberg catalog would do the
    swap as a snapshot commit; on plain parquet it is a directory rename.
    """
    import shutil
    import tempfile

    src = f"{out_dir}/triples"
    old = f"{out_dir}/_triples_precompact"
    # CRASH RECOVERY: a previous compaction
    # may have died between os.rename(src, old) and os.rename(staged,
    # src), leaving the triples dir absent — which would fail every
    # reader and this compactor with FileNotFound while the data sits
    # only in the precompact backup.  Restore it before proceeding.
    if not os.path.isdir(src) and os.path.isdir(old):
        os.rename(old, src)
    staged = tempfile.mkdtemp(prefix="kg_compact_",
                              dir=os.path.dirname(src) or ".")
    (spark.read.parquet(src)
     .drop("epoch")
     .repartition("bucket")
     .dropDuplicates()
     .withColumn("epoch", F.lit(0))
     .write.mode("overwrite").partitionBy("epoch", "bucket")
     .parquet(staged))
    shutil.rmtree(old, ignore_errors=True)
    os.rename(src, old)
    os.rename(staged, src)
    shutil.rmtree(old, ignore_errors=True)

