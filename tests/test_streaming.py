"""Structured Streaming layer: batch/stream symmetry + watermarked windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark.streaming import events as ev
from tests.conftest import SF


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_windowed_stats_batch(events):
    out = ev.windowed_event_stats(events)
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n"] for r in rows) == events.count()


def test_sessionize(events):
    out = ev.sessionize(events)
    assert out.count() == events.count()
    # session_seq is monotone per user over time
    bad = (
        ev.sessionize(events)
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("mx"), F.countDistinct("session_id").alias("ns"))
        .filter(F.col("mx") != F.col("ns"))
    )
    assert bad.count() == 0


def test_approx_stats_accuracy(events):
    approx = {r["event_type"]: r["approx_users"]
              for r in ev.approx_event_stats(events).collect()}
    exact = {r["event_type"]: r["n"]
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(2, 0.1 * v)


def test_stream_windowed_matches_batch(spark, events, tmp_path):
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    q = ev.run_stream_windowed(spark, src, query_name="tw_stats")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM tw_stats")
        batch = ev.windowed_event_stats(events)
        assert got.count() == batch.count()
        g = {(str(r["window_start"]), r["event_type"]): r["n"] for r in got.collect()}
        b = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
        assert g == b
    finally:
        q.stop()


def test_stateful_counts_across_batches(spark, events, tmp_path):
    """applyInPandasWithState accumulates across micro-batches: feed two
    file drops, final per-user counts must equal the batch aggregate."""
    src = str(tmp_path / "ev_stateful")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(src)
    q = ev.run_stream_stateful_counts(spark, src, query_name="tsc")
    try:
        q.processAllAvailable()
        # second micro-batch: drop more files into the source dir
        half2.write.mode("append").parquet(src)
        q.processAllAvailable()
        want = {r["user_id"]: (r["n"], round(r["s"], 2))
                for r in events.groupBy("user_id").agg(
                    F.count("*").alias("n"), F.sum("value").alias("s")).collect()}
        # memory sink in update mode appends rows; keep the max-count row
        final = {}
        for r in spark.sql("SELECT * FROM tsc").collect():
            u = r["user_id"]
            if u not in final or r["n_events"] > final[u][0]:
                final[u] = (r["n_events"], r["sum_value"])
        assert set(final) == set(want)
        for u in want:
            assert final[u][0] == want[u][0]
            assert abs(final[u][1] - want[u][1]) < 0.05
    finally:
        q.stop()


def test_queries_pin_utc_under_non_utc_session(spark):
    """The driver may hand us a session in any timezone; the queries()
    wrapper must pin UTC so timestamp bucketing matches DuckDB (which is
    tz-naive over the same parquet) regardless of the caller's default."""
    import __spark_entry__ as em

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        out = em.queries()["events_windowed_stats"](spark, SF).collect()
        # the wrapper pinned the session back to UTC...
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        ref = em.queries()["events_windowed_stats"](spark, SF).collect()
        # ...and the non-UTC-entry run bucketed identically
        assert sorted(map(tuple, out)) == sorted(map(tuple, ref))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_stream_kg_continuous_build(spark, tmp_path):
    """foreachBatch KG maintenance: streamed pages land as bucketed,
    epoch-partitioned mention triples; the compacted read equals the
    batch pipeline's triple set."""
    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, materialize, mentions

    tables = build.gazetteer_tables(spark, SF)
    feats = tables["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 100)
    src = str(tmp_path / "pages_src_kg")
    # two files => at least one micro-batch boundary exercised
    pages.repartition(2).write.parquet(src)
    smap_scored = mentions.build_scored_surface_map(feats)
    out = str(tmp_path / "stream_kg_out")

    q = ev.run_stream_kg(spark, src, smap_scored, out, n_buckets=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = ev.read_stream_kg(spark, out)
    batch = materialize.mention_triples(
        mentions.detect_and_link(spark.read.parquet(src), smap_scored,
                                 from_html=True))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # WRITE-side compaction: epochs collapse to epoch=0, the compacted
    # store reads identically, and the raw store itself is now dup-free
    import glob as _glob

    ev.compact_stream_kg(spark, out)
    epochs = {e.rsplit("=", 1)[1]
              for e in _glob.glob(f"{out}/triples/epoch=*")}
    assert epochs == {"0"}
    after = ev.read_stream_kg(spark, out)
    assert after.exceptAll(batch).count() == 0
    assert batch.exceptAll(after).count() == 0
    raw = spark.read.parquet(f"{out}/triples").drop("epoch", "bucket")
    assert raw.count() == batch.count()  # store itself deduplicated

    # compaction plan pin: ONE exchange, keyed by bucket only — the
    # dedup aggregation is partition-local (bucket is a function of subj,
    # so duplicates always colocate; no second all-columns shuffle)
    plan = streamed._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    assert all(e.strip().startswith("bucket") for e in exchanges), exchanges


def test_stream_kg_kill_restart_resume(spark, tmp_path):
    """Crash recovery: stop the stream, ERASE the last commit marker from
    the checkpoint (simulating a crash AFTER the sink wrote its epoch but
    BEFORE the stream committed), drop more files, restart from the same
    checkpoint.  The replayed epoch overwrites its own partition instead
    of double-appending, and the compacted read equals the batch
    pipeline over the full corpus."""
    import glob
    import os

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, materialize, mentions

    tables = build.gazetteer_tables(spark, SF)
    feats = tables["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 100)
    src = str(tmp_path / "pages_src_kr")
    half1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    half1.write.parquet(src)
    smap_scored = mentions.build_scored_surface_map(feats)
    out = str(tmp_path / "stream_kg_kr")

    q = ev.run_stream_kg(spark, src, smap_scored, out, n_buckets=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_after_first = ev.read_stream_kg(spark, out).count()
    assert n_after_first > 0

    # simulate the crash window: epoch files are on disk but the commit
    # marker never landed -> restart must REPLAY that epoch idempotently
    commits = sorted(glob.glob(f"{out}/_checkpoint/commits/[0-9]*"))
    assert commits
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):  # hadoop local-fs checksum sidecar
        os.remove(crc)

    half2.write.mode("append").parquet(src)
    q2 = ev.run_stream_kg(spark, src, smap_scored, out, n_buckets=4)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    streamed = ev.read_stream_kg(spark, out)
    batch = materialize.mention_triples(
        mentions.detect_and_link(spark.read.parquet(src), smap_scored,
                                 from_html=True))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def _drop_archive(df, drop_dir, name, tmp_path):
    """Stage one single-member .warc.gz and land it in the drop dir
    under a unique name (write_warc names files by partition id, so
    two direct writes into the same dir would collide)."""
    import os
    import shutil as _sh

    from geonames_rdf_spark.sources import warc

    stage = str(tmp_path / f"_stage_{name}")
    warc.write_warc(df.coalesce(1), stage)
    (member,) = [f for f in os.listdir(stage) if f.endswith(".warc.gz")]
    os.makedirs(drop_dir, exist_ok=True)
    _sh.move(os.path.join(stage, member),
             os.path.join(drop_dir, f"{name}.warc.gz"))


def test_stream_ingest_dedup_unbounded_equals_batch(spark, tmp_path):
    """Streaming ingest dedup (built-in dropDuplicates state): pages
    re-delivered in a LATER archive with identical bytes are dropped
    before storage; the stored corpus equals the batch
    dropDuplicates-on-md5(html) of everything that landed."""
    from pyspark.sql import Window

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus
    from geonames_rdf_spark.sources import warc

    feats = build.gazetteer_tables(spark, SF)["features"]
    pages = corpus.synthesize_pages(
        spark, corpus.gazetteer_surfaces(feats), 40)
    numbered = pages.withColumn(
        "_rn", F.row_number().over(Window.orderBy("url")))
    # materialize both slices BEFORE the stream starts: the archives are
    # fixed input files, and no window plan runs after the stateful query
    # (whose AQE-off cloned conf otherwise poisons a later WindowExec job
    # in this session — Spark quirk, irrelevant to what's under test)
    numbered.write.parquet(str(tmp_path / "slices"))
    sliced = spark.read.parquet(str(tmp_path / "slices"))
    a = sliced.filter("_rn <= 30").drop("_rn")
    b = sliced.filter("_rn > 20").drop("_rn")  # rows 21-30 re-delivered

    drop = str(tmp_path / "ingest_drop")
    out = str(tmp_path / "ingest_out")
    _drop_archive(a, drop, "a", tmp_path)
    q = ev.run_stream_ingest_dedup(spark, drop, out)
    try:
        q.processAllAvailable()
        _drop_archive(b, drop, "b", tmp_path)
        q.processAllAvailable()
    finally:
        q.stop()

    stored = spark.read.parquet(f"{out}/pages")
    batch = (warc.read_warc(spark, drop + "/*.warc.gz")
             .withColumn("_k", F.md5("html")).dropDuplicates(["_k"])
             .drop("_k"))
    assert stored.count() == batch.count() == 40

    # row-level equality via collected keys (40 rows; exceptAll over
    # the mapInPandas WARC source trips INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND in this Spark build — engine quirk, not under test)
    def keyed(df):
        return sorted(
            (r["url"], r["k"], str(r["warc_ts"]))
            for r in df.select("url", F.md5("html").alias("k"),
                               "warc_ts").collect())

    assert keyed(stored) == keyed(batch)


def test_stream_ingest_dedup_watermark_bounds_state(spark, tmp_path):
    """within='1 hour' switches to dropDuplicatesWithinWatermark: a
    near-in-time re-delivery is still dropped, but once the watermark
    passes a key's window the state EVICTS it and a much-later
    re-crawl is re-admitted — bounded state (ingest rate x window,
    never corpus-sized), the 10^12-page operating mode."""
    from datetime import datetime as dt

    near = b"<html>near-dup body</html>"
    far = b"<html>far-apart body</html>"
    filler = b"<html>watermark pusher</html>"
    rows1 = [
        ("http://x.org/far", dt(2026, 1, 1, 10, 0, 0), far),
        ("http://x.org/near", dt(2026, 1, 1, 12, 50, 0), near),
        ("http://x.org/fill", dt(2026, 1, 1, 13, 0, 0), filler),
    ]
    rows2 = [
        ("http://y.org/near2", dt(2026, 1, 1, 12, 55, 0), near),  # dropped
        ("http://y.org/far2", dt(2026, 1, 1, 13, 30, 0), far),    # re-admitted
    ]
    schema = "url string, warc_ts timestamp, html binary"
    drop = str(tmp_path / "wm_drop")
    out = str(tmp_path / "wm_out")
    _drop_archive(spark.createDataFrame(rows1, schema), drop, "a", tmp_path)
    q = ev.run_stream_ingest_dedup(spark, drop, out, within="1 hour")
    try:
        q.processAllAvailable()  # watermark advances to 12:00
        _drop_archive(spark.createDataFrame(rows2, schema), drop, "b",
                      tmp_path)
        q.processAllAvailable()
    finally:
        q.stop()

    from pyspark.sql import functions as F

    got = {r["url"]: r for r in
           spark.read.parquet(f"{out}/pages").collect()}
    # far body @10:00 expired from state (watermark 12:00 > 11:00), so
    # its 13:30 re-crawl is re-admitted; the 12:55 near-dup of the
    # 12:50 body is inside the window and dropped
    assert set(got) == {"http://x.org/far", "http://x.org/near",
                        "http://x.org/fill", "http://y.org/far2"}
    n_far = len({u for u in got if got[u]["html"] == bytearray(far)})
    assert n_far == 2  # both sightings of the far-apart body stored


def test_stream_kg_from_warc_drop_dir(spark, tmp_path):
    """Live-crawl shape end to end: .warc.gz members in a drop
    directory -> streaming WARC parse -> fused linking (NULL lang, no
    bonus) -> epoch-partitioned triple store; the compacted read equals
    the batch path over read_warc."""
    from pyspark.sql import functions as F

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, materialize, mentions
    from geonames_rdf_spark.sources import warc

    tables = build.gazetteer_tables(spark, SF)
    feats = tables["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 120)
    drop = str(tmp_path / "crawl_drop")
    # 3 archives => micro-batch boundaries land between members
    warc.write_warc(pages.repartition(3, "url"), drop)
    smap_scored = mentions.build_scored_surface_map(feats)
    out = str(tmp_path / "warc_kg_out")

    q = ev.run_stream_kg_warc(spark, drop, smap_scored, out, n_buckets=4,
                              max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = ev.read_stream_kg(spark, out)

    batch_pages = (warc.read_warc(spark, drop + "/*.warc.gz")
                   .withColumn("lang", F.lit(None).cast("string")))
    batch = materialize.mention_triples(
        mentions.detect_and_link(batch_pages, smap_scored, from_html=True))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_kg_warc_lost_checkpoint_converges(spark, tmp_path):
    """A lost checkpoint: a fresh query renumbers its epochs from 0 and
    meets different batch boundaries (2 archives per trigger instead of
    1), so each replayed epoch overwrites an epoch partition that held
    other archives.  Every stale row is still a triple of some archive,
    so the compacted read stays exactly the batch triples."""
    import shutil

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, materialize, mentions
    from geonames_rdf_spark.sources import warc

    feats = build.gazetteer_tables(spark, SF)["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 120)
    drop = str(tmp_path / "crawl_drop_lost")
    warc.write_warc(pages.repartition(3, "url"), drop)
    smap_scored = mentions.build_scored_surface_map(feats)
    out = str(tmp_path / "warc_kg_lost")

    def drain(files_per_trigger):
        q = ev.run_stream_kg_warc(spark, drop, smap_scored, out,
                                  n_buckets=4,
                                  max_files_per_trigger=files_per_trigger)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain(1)
    shutil.rmtree(f"{out}/_checkpoint")
    drain(2)

    streamed = ev.read_stream_kg(spark, out)
    batch_pages = (warc.read_warc(spark, drop + "/*.warc.gz")
                   .withColumn("lang", F.lit(None).cast("string")))
    batch = materialize.mention_triples(
        mentions.detect_and_link(batch_pages, smap_scored, from_html=True))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
