"""Structured Streaming layer (SURVEY.md notes: the reference is batch-only;
streaming is the Spark-native generalization for continuously-arriving
crawl/event data).

Batch/stream symmetry: the same windowed-aggregation logic runs as a batch
DataFrame (oracle-checkable against DuckDB) and as a streaming query with
watermarked event-time windows (tested via the file source -> memory sink
round trip).  ``run_stream_kg`` and its WARC variant run the
fused KG linking scan as a streaming stage — pages arriving as
micro-batches produce the same mention triples the batch pipeline yields.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def windowed_event_stats(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Per (event_type, hour-ish window) stats — batch twin of the stream.

    Uses date_trunc-style bucketing so the DuckDB oracle matches exactly;
    decimals for the sum to keep cross-engine float determinism.
    """
    bucket = F.window("ts", f"{minutes} minutes")
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


def approx_event_stats(events: DataFrame) -> DataFrame:
    """Approximate-distinct / quantile sketch demo (HLL++ and GK) — the
    operators a 100 TB rollup actually uses; accuracy pinned by pytest
    (cross-engine sketches differ, so no DuckDB value-oracle).  Quantiles
    are projected to scalar columns (an array column would defeat the
    driver's pandas canonicalizer)."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("q50"),
        F.percentile_approx("value", 0.95).alias("q95"),
        F.percentile_approx("value", 0.99).alias("q99"),
        F.count("*").alias("n"),
    )


def quantile_event_stats(events: DataFrame,
                         accuracy: int = 1_000_000) -> DataFrame:
    """Oracle-expressible twin of ``approx_event_stats``: with ``accuracy``
    >= group size the GK sketch behind ``percentile_approx`` is *exact* and
    returns the discrete quantile (== DuckDB ``quantile_disc``), and the
    distinct count is exact.  Same physical operators as the sketch
    version — the accuracy knob is the only difference — so the driver's
    hash-compare can certify the sketch path end-to-end."""
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.percentile_approx("value", 0.5, accuracy).alias("q50"),
        F.percentile_approx("value", 0.95, accuracy).alias("q95"),
        F.percentile_approx("value", 0.99, accuracy).alias("q99"),
        F.count("*").alias("n"),
    )


def run_stream_windowed(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "event_stats",
    watermark: str = "2 hours",
    minutes: int = 60,
):
    """Streaming version: file source -> watermark -> windowed agg ->
    memory sink.  Returns the StreamingQuery (caller drives with
    processAllAvailable)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
        .withWatermark("ts", watermark)
    )
    agg = (
        stream.groupBy(F.window("ts", f"{minutes} minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"), "event_type",
            "n", "sum_value",
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName(query_name)
        .start()
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: lag + cumulative gap-count window — the
    classic Spark formulation (session id = user_id + running count of
    gaps > threshold)."""
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
            (F.col("_gap").isNull() | (F.col("_gap") > gap_minutes * 60)).cast("int"),
        )
        .withColumn("session_seq", F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(
            "session_id",
            F.concat_ws("-", F.col("user_id"), F.col("session_seq")),
        )
        .drop("_gap", "_new_session")
    )


def run_stream_kg(
    spark: SparkSession,
    pages_dir: str,
    scored_map: dict[str, list[tuple[int, float, str]]],
    out_dir: str,
    n_buckets: int = 8,
):
    """CONTINUOUS KG maintenance: micro-batched crawl pages -> fused
    linking -> mention triples appended to a bucket-partitioned store
    via ``foreachBatch``.

    Exactly-once without a transactional sink: each epoch writes under
    its own ``epoch=<id>`` partition with dynamic partition OVERWRITE, so
    a replayed micro-batch (post-crash recovery from the stream
    checkpoint) overwrites its own partition instead of double-appending
    — the same idempotence trick the batch lineage layer uses per url
    bucket.  Triple dedup runs per epoch (batch semantics inside
    foreachBatch); cross-epoch duplicates are possible by design and
    collapse at read/compaction (``read_stream_kg``).
    """
    from geonames_rdf_spark.pipeline import mentions as m

    pages = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(pages_dir)
    linked = m.detect_and_link(pages, scored_map, from_html=True)
    return _start_kg_sink(linked, out_dir, n_buckets)


def _start_kg_sink(linked: DataFrame, out_dir: str, n_buckets: int):
    """foreachBatch epoch-partitioned triple sink shared by the parquet-
    and WARC-fed continuous KG builds (exactly-once semantics documented
    on ``run_stream_kg``)."""
    from geonames_rdf_spark.pipeline import materialize

    def write_batch(df, epoch_id: int) -> None:
        t = materialize.mention_triples(df)
        # dynamic overwrite scoped to THIS writer (a session-conf mutation
        # would silently change every later partitioned overwrite in the
        # same session)
        (t.withColumn("bucket",
                      F.pmod(F.xxhash64("subj"), F.lit(n_buckets)))
          .withColumn("epoch", F.lit(int(epoch_id)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("epoch", "bucket")
          .parquet(f"{out_dir}/triples"))

    return (
        linked.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .start()
    )


def run_stream_kg_warc(
    spark: SparkSession,
    warc_dir: str,
    scored_map: dict[str, list[tuple[int, float, str]]],
    out_dir: str,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
):
    """Continuous KG maintenance DIRECTLY from a crawl drop directory:
    ``.warc.gz`` members landing in ``warc_dir`` -> streaming WARC
    parse (``sources.warc.read_warc_stream``) -> fused extract+link ->
    the same epoch-partitioned exactly-once triple sink as
    ``run_stream_kg``.  This is the end-to-end live-crawl shape: the
    crawler's delivery unit (a finished archive) is the micro-batch
    unit, ``max_files_per_trigger`` bounds ingest rate, and a replayed
    batch after crash recovery overwrites its own epoch partition.

    WARC carries no language metadata, so ``lang`` is NULL — the linker
    scores on the population prior alone (no language bonus), exactly
    the ``detect_and_link`` NULL-lang contract."""
    from geonames_rdf_spark.pipeline import mentions as m
    from geonames_rdf_spark.sources.warc import read_warc_stream

    pages = read_warc_stream(
        spark, warc_dir,
        max_files_per_trigger=max_files_per_trigger,
    ).withColumn("lang", F.lit(None).cast("string"))
    linked = m.detect_and_link(pages, scored_map, from_html=True)
    return _start_kg_sink(linked, out_dir, n_buckets)


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


def stream_dedup_exact(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Exact dedup ON INGEST: keep each key's first-seen row across
    micro-batches, dropping re-crawls/re-deliveries before they ever
    reach storage — the streaming twin of ``dedup.exact_dups``.  Pure
    built-ins: Spark's streaming ``dropDuplicates`` keeps per-key state
    in the state store (first batch containing a key wins; later
    arrivals are dropped), so there is no custom stateful operator to
    maintain.

    State sizing — the reason for ``within`` (10^12-page scale): the
    unbounded variant's state is one entry per DISTINCT key forever,
    which is corpus-sized — fine for a bounded backfill, wrong for a
    perpetual crawl ingest.  ``within='7 days'`` (with ``ts_col``)
    switches to ``dropDuplicatesWithinWatermark``: a duplicate is
    dropped only if it arrives within the watermark delay of the
    first sighting, and the state store EVICTS keys once the watermark
    passes them — state is bounded by (ingest rate x window), not by
    corpus size.  That trade (re-crawls separated by more than the
    window are re-admitted, collapsing later at the batch dedup layer)
    is exactly how production ingest dedup bounds itself.  Key on a
    digest (``F.md5(text)``), not the text — state entries then carry
    ~32 bytes, not documents.
    """
    if within is not None:
        if ts_col is None:
            raise ValueError("within (bounded-state dedup) requires"
                             " ts_col: the watermark needs an event-time"
                             " column to evict state against")
        return (stream.withWatermark(ts_col, within)
                .dropDuplicatesWithinWatermark(key_cols))
    return stream.dropDuplicates(key_cols)


def run_stream_ingest_dedup(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    within: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Crawl-drop ingest with content dedup BEFORE storage: ``.warc.gz``
    members -> streaming WARC parse -> ``md5(html)`` content key (raw
    response bytes — byte-identity, no extraction needed at ingest) ->
    ``stream_dedup_exact`` (bounded by ``within`` when given, keyed on
    ``warc_ts``) -> append parquet sink.  A re-crawled page body never
    lands twice, so every downstream consumer (the KG build, the
    curation pipeline) reads a pre-deduped corpus instead of each
    paying the dedup shuffle itself."""
    from geonames_rdf_spark.sources.warc import read_warc_stream

    pages = read_warc_stream(
        spark, warc_dir, max_files_per_trigger=max_files_per_trigger)
    deduped = stream_dedup_exact(
        pages.withColumn("_content_key", F.md5("html")),
        ["_content_key"], ts_col="warc_ts", within=within)
    return (
        deduped.drop("_content_key")
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/pages")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .outputMode("append")
        .start()
    )


def run_stream_stateful_counts(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "stateful_counts",
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count + running value sum maintained in group
    state across micro-batches (the Spark-native replacement for any
    per-key accumulating operator the reference's batch shell loops
    could not express).
    """
    import pandas as pd

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)

    def update(key, pdf_iter, state):
        (user_id,) = key
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n],
             "sum_value": [round(total, 2)]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory").queryName(query_name)
        .start()
    )
