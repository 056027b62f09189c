"""Structured Streaming layer: the batch event aggregates, and the one
continuous query — WARC drop directory -> exactly-once KG triple store —
checked against the batch triples through replay, lost checkpoints and
compaction."""

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


def test_stream_kg_kill_restart_resume(spark, tmp_path):
    """Crash recovery: drain archive A, ERASE the last commit marker from
    the checkpoint (simulating a crash AFTER the sink wrote its epoch but
    BEFORE the stream committed), drop archive B, restart from the same
    checkpoint.  The replayed epoch overwrites its own partition instead
    of double-appending, and the read equals the batch triples over both
    archives."""
    import glob
    import os

    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, materialize, mentions
    from geonames_rdf_spark.sources import warc

    feats = build.gazetteer_tables(spark, SF)["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 100)
    half1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    half2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    drop = str(tmp_path / "crawl_drop_kr")
    _drop_archive(half1, drop, "a", tmp_path)
    smap_scored = mentions.build_scored_surface_map(feats)
    out = str(tmp_path / "stream_kg_kr")

    def drain():
        q = ev.run_stream_kg_warc(spark, drop, smap_scored, out,
                                  n_buckets=4)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    assert ev.read_stream_kg(spark, out).count() > 0

    # simulate the crash window: epoch files are on disk but the commit
    # marker never landed -> restart must REPLAY that epoch idempotently
    commits = sorted(glob.glob(f"{out}/_checkpoint/commits/[0-9]*"))
    assert commits
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):  # hadoop local-fs checksum sidecar
        os.remove(crc)

    _drop_archive(half2, drop, "b", tmp_path)
    drain()
    # the replayed epoch overwrote its own partition: no row twice
    raw = spark.read.parquet(f"{out}/triples")
    assert raw.count() == raw.distinct().count()

    streamed = ev.read_stream_kg(spark, out)
    batch_pages = (warc.read_warc(spark, drop + "/*.warc.gz")
                   .withColumn("lang", F.lit(None).cast("string")))
    batch = materialize.mention_triples(
        mentions.detect_and_link(batch_pages, smap_scored, from_html=True))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_kg_from_warc_drop_dir(spark, tmp_path):
    """Live-crawl shape end to end: .warc.gz members in a drop
    directory -> streaming WARC parse -> fused linking (NULL lang, no
    bonus) -> epoch-partitioned triple store; the compacted read equals
    the batch path over read_warc, before and after compaction."""
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

    # read plan pin: ONE exchange, keyed by bucket — the dedup
    # aggregation is partition-local (bucket is a function of subj, so
    # duplicates always colocate; no second all-columns shuffle)
    import glob
    import re

    plan = streamed._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0].strip().startswith("bucket"), exchanges

    # each epoch writes one file per bucket, however many tasks the
    # micro-batch's shuffles ran
    bucket_dirs = glob.glob(f"{out}/triples/epoch=*/bucket=*")
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    # WRITE-side compaction: epochs collapse to epoch=0, the compacted
    # store reads identically, and the raw store itself is now dup-free
    ev.compact_stream_kg(spark, out)
    epochs = {e.rsplit("=", 1)[1]
              for e in glob.glob(f"{out}/triples/epoch=*")}
    assert epochs == {"0"}
    after = ev.read_stream_kg(spark, out)
    assert after.exceptAll(batch).count() == 0
    assert batch.exceptAll(after).count() == 0
    raw = spark.read.parquet(f"{out}/triples").drop("epoch", "bucket")
    assert raw.count() == batch.count()


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
