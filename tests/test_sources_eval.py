"""Sources round-trips + the P/R evaluation harness."""

from __future__ import annotations

from pyspark.sql import functions as F

from geonames_rdf_spark import evaluation, synth
from geonames_rdf_spark.operators import build
from geonames_rdf_spark.pipeline import materialize
from geonames_rdf_spark.sources import ntriples, tsv
from tests.conftest import SF


def test_tsv_roundtrip_with_null_semantics(spark, tmp_path):
    gaz = synth.register_gazetteer(spark, SF)
    feats = gaz["features_plus"].withColumn("bestName", F.col("name"))
    path = str(tmp_path / "features_tsv")
    tsv.write_tsv(feats.select(*[f.name for f in tsv.FEATURES_SCHEMA.fields]), path)
    back = tsv.read_tsv(spark, path, tsv.FEATURES_SCHEMA)
    assert back.count() == feats.count()
    orig = feats.select(*[f.name for f in tsv.FEATURES_SCHEMA.fields])
    # '' and NULL collapse to NULL on read — normalize the original the same
    norm = orig
    for f in tsv.FEATURES_SCHEMA.fields:
        if f.dataType.typeName() == "string":
            norm = norm.withColumn(
                f.name, F.when(F.col(f.name) != "", F.col(f.name))
            )
    assert norm.exceptAll(back).count() == 0
    assert back.exceptAll(norm).count() == 0


def test_tsv_zip_source_matches_plain_read(spark, tmp_path):
    """GOLDEN: a zip archive of TSV members reads IDENTICAL to the plain
    TSV read (same schema casts, same ''==NULL collapse), including a
    bundled readme that must be skipped and per-member header rows."""
    import os
    import zipfile

    gaz = synth.register_gazetteer(spark, SF)
    feats = gaz["features_plus"].withColumn("bestName", F.col("name"))
    cols = [f.name for f in tsv.FEATURES_SCHEMA.fields]
    path = str(tmp_path / "features_tsv")
    tsv.write_tsv(feats.select(*cols), path)

    # pack the part files into TWO archives (parallelism unit = archive),
    # mimicking the per-country dumps: member .txt + a readme to ignore
    parts = sorted(p for p in os.listdir(path) if p.startswith("part-"))
    assert parts
    zips = str(tmp_path / "zips")
    os.makedirs(zips)
    half = (len(parts) + 1) // 2
    for zi, chunk in enumerate([parts[:half], parts[half:]]):
        if not chunk:
            continue
        with zipfile.ZipFile(f"{zips}/dump{zi}.zip", "w") as zf:
            for i, p in enumerate(chunk):
                with open(os.path.join(path, p), "rb") as fh:
                    zf.writestr(f"member{i}.txt", fh.read())
            zf.writestr("readme.txt.README", "do not parse me\tnot a row")

    plain = tsv.read_tsv(spark, path, tsv.FEATURES_SCHEMA)
    zipped = tsv.read_tsv_zip(spark, f"{zips}/*.zip", tsv.FEATURES_SCHEMA,
                              member_suffix=".txt")
    assert zipped.count() == plain.count() > 0
    assert plain.exceptAll(zipped).count() == 0
    assert zipped.exceptAll(plain).count() == 0

    # header=True drops the first line of each member
    with zipfile.ZipFile(f"{zips}/hdr.zip", "w") as zf:
        zf.writestr("h.txt", "geonameid\tname\n1\tAlpha\n2\t\n")
    from pyspark.sql import types as T

    two_cols = T.StructType([tsv.FEATURES_SCHEMA["geonameid"],
                             tsv.FEATURES_SCHEMA["name"]])
    hdr = tsv.read_tsv_zip(spark, f"{zips}/hdr.zip", two_cols,
                           header=True, member_suffix=".txt")
    rows = {r["geonameid"]: r["name"] for r in hdr.collect()}
    assert rows == {1: "Alpha", 2: None}


def test_ntriples_roundtrip(spark, tmp_path):
    kg = build.build_kg(spark, SF)
    path = str(tmp_path / "kg_nt")
    materialize.write_ntriples(kg, path)
    back = ntriples.read_ntriples(spark, path)
    assert back.count() == kg.count()
    a = kg.select("subj", "pred", "obj", "obj_is_iri", "obj_lang", "obj_dt")
    assert a.exceptAll(back).count() == 0
    assert back.exceptAll(a).count() == 0


def test_ntriples_roundtrip_adversarial_literals(spark, tmp_path):
    """Control chars, escape-collision sequences (backslash-n vs newline),
    and blank-node subjects/objects survive sink -> source exactly."""
    rows = [
        ("http://e/s1", "http://e/p", 'quote " here', False, None, None),
        ("http://e/s1", "http://e/p", "tab\there", False, "en", None),
        ("http://e/s1", "http://e/p", "multi\nline\rliteral", False, None, None),
        ("http://e/s1", "http://e/p", "backslash \\n not newline", False,
         None, "http://www.w3.org/2001/XMLSchema#string"),
        ("http://e/s1", "http://e/p", "\\", False, None, None),
        ("_:b0", "http://e/p", "_:b1", True, None, None),
        ("_:b1", "http://e/p", "http://e/o", True, None, None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean,"
              " obj_lang string, obj_dt string")
    path = str(tmp_path / "adv_nt")
    materialize.write_ntriples(t, path)
    lines = {r["value"] for r in spark.read.text(path).collect()}
    assert '<http://e/s1> <http://e/p> "multi\\nline\\rliteral" .' in lines
    assert '_:b0 <http://e/p> _:b1 .' in lines
    back = ntriples.read_ntriples(spark, path)
    assert back.exceptAll(t).count() == 0
    assert t.exceptAll(back).count() == 0


def test_triple_pr_exact_match(spark):
    kg = build.build_kg(spark, SF)
    pr = evaluation.triple_pr(kg, kg)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0


def test_triple_pr_detects_divergence(spark):
    kg = build.build_kg(spark, SF)
    # drop consolidation => extra triples => precision < 1, recall = 1
    raw = build.build_kg(spark, SF, consolidate=False)
    pr = evaluation.triple_pr(raw, kg)
    assert pr["recall"] == 1.0
    assert pr["precision"] < 1.0


def test_warc_roundtrip_and_pipeline_ingest(spark, tmp_path):
    """Common-Crawl-shaped ingestion: pages written as .warc.gz archives
    read back byte-identical (url, ts, html), and the fused KG pipeline
    over the WARC-sourced table emits EXACTLY the links of the parquet
    path — the format swap is invisible to the engine."""
    from geonames_rdf_spark.operators import build
    from geonames_rdf_spark.pipeline import corpus, mentions
    from geonames_rdf_spark.sources import warc

    tables = build.gazetteer_tables(spark, SF)
    feats = tables["features"]
    surfaces = corpus.gazetteer_surfaces(feats)
    pages = corpus.synthesize_pages(spark, surfaces, 80).repartition(3)

    wdir = str(tmp_path / "warcs")
    warc.write_warc(pages, wdir)
    import os

    names = sorted(os.listdir(wdir))
    assert names and all(n.endswith(".warc.gz") for n in names)

    back = warc.read_warc(spark, f"{wdir}/*.warc.gz")
    assert back.count() == pages.count()
    # byte-identity of html + timestamp survival, keyed by url
    orig = {r["url"]: (bytes(r["html"]), r["warc_ts"])
            for r in pages.select("url", "html", "warc_ts").collect()}
    for r in back.collect():
        oh, ots = orig[r["url"]]
        assert bytes(r["html"]) == oh
        assert abs((r["warc_ts"] - ots).total_seconds()) < 1  # s precision

    # pipeline ingest: WARC source + lang joined from crawl metadata
    smap = mentions.build_scored_surface_map(feats)
    warc_pages = back.join(pages.select("url", "lang"), "url")
    a = mentions.detect_and_link(warc_pages, smap, from_html=True)
    b = mentions.detect_and_link(pages, smap, from_html=True)
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0
