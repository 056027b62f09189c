"""Incremental KG maintenance: changelog exactness.

The reference re-runs the full converter per dump (run.sh:33-63); the
delta layer replaces that with an exact changelog of the triple sets,
scoped to the subjects a dump diff can affect.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark.operators import build
from geonames_rdf_spark.pipeline import delta
from tests.conftest import SF


@pytest.fixture(scope="module")
def worlds(spark):
    old, new = _worlds(spark)
    # pin both builds: every exceptAll/count below would otherwise
    # re-execute the full KG plans
    return (old.localCheckpoint(eager=True),
            new.localCheckpoint(eager=True))


def _worlds(spark):
    """(old_triples, new_triples): the new world bumps population on a few
    features and deletes a few non-admin features (alt rows pruned with
    them, as a real re-derive would)."""
    tables_old = build.gazetteer_tables(spark, SF)
    old = build.build_kg(spark, SF, tables=tables_old)

    # the sf0.001 gazetteer holds 150 features (ids 0-149): bump ~20
    # populations, delete a handful of populated places (P-class rows are
    # never admin parents, so the derived lookup tables stay consistent)
    f = tables_old["features"]
    mutated = (
        f.withColumn(
            "population",
            F.when(F.col("geonameid") % 7 == 0,
                   F.col("population") + 1).otherwise(F.col("population")))
        .filter(~((F.col("geonameid") % 5 == 0)
                  & (F.col("feature_class") == "P")))
    )
    tables_new = dict(tables_old)
    tables_new["features"] = mutated
    tables_new["alt_names"] = tables_old["alt_names"].join(
        mutated.select("geonameid"), "geonameid", "left_semi")
    new = build.build_kg(spark, SF, tables=tables_new)
    return old, new


def test_delta_changelog_replay_exact(spark, worlds):
    old, new = worlds
    log = delta.triple_changelog(old, new)
    n_adds = log.filter("op = 'add'").count()
    n_dels = log.filter("op = 'del'").count()
    assert n_adds > 0 and n_dels > 0  # both mutation kinds visible
    # the changelog is small relative to the world (the point of a delta)
    assert (n_adds + n_dels) < old.count() / 10
    replayed = delta.apply_changelog(old, log)
    assert replayed.exceptAll(new).count() == 0
    assert new.exceptAll(replayed).count() == 0


def test_delta_scoped_changelog_narrow_update(spark):
    """Scoped changelog (builds pre-filtered to the affected-id superset
    from the INPUT diff) must equal the full two-world changelog — on a
    narrow P-row mutation AND on a class-A delete that triggers the
    country-closure rule (admin-lookup dependents change triples)."""
    tables_old = build.gazetteer_tables(spark, SF)
    old = build.build_kg(spark, SF, tables=tables_old)

    # scenario 1: NARROW non-admin mutation — class-A rows untouched, so
    # the country closure must not fire and the scope stays ∝ change
    f = tables_old["features"]
    mutated = (
        f.withColumn(
            "population",
            F.when((F.col("geonameid") % 7 == 0)
                   & (F.col("feature_class") == "P"),
                   F.col("population") + 1).otherwise(F.col("population")))
        .filter(~((F.col("geonameid") % 5 == 0)
                  & (F.col("feature_class") == "P")))
    )
    tables_new = dict(tables_old)
    tables_new["features"] = mutated
    tables_new["alt_names"] = tables_old["alt_names"].join(
        mutated.select("geonameid"), "geonameid", "left_semi")
    new = build.build_kg(spark, SF, tables=tables_new)

    full = delta.triple_changelog(old, new).localCheckpoint(eager=True)
    scoped = delta.scoped_changelog(spark, SF, tables_old, tables_new)
    assert scoped.exceptAll(full).count() == 0
    assert full.exceptAll(scoped).count() == 0
    # the scope is a small fraction of the world — the point of the prune
    affected = delta.affected_ids_from_dump_diff(
        tables_old["features"], tables_new["features"],
        tables_old["alt_names"], tables_new["alt_names"])
    assert affected.count() < f.count() / 2

    # scenario 2: delete an ADM1 row (re-derived lookup loses it too) —
    # every dependent's parent-COALESCE changes; only the country
    # closure makes the scoped diff exact
    adm1 = tables_old["admin_lookups"][1].select("geonameId").first()[0]
    f2 = f.filter(F.col("geonameid") != adm1)
    lookups2 = dict(tables_old["admin_lookups"])
    lookups2[1] = lookups2[1].filter(F.col("geonameId") != adm1)
    tables_adm = dict(tables_old)
    tables_adm["features"] = f2
    tables_adm["admin_lookups"] = lookups2
    new2 = build.build_kg(spark, SF, tables=tables_adm)
    full2 = delta.triple_changelog(old, new2).localCheckpoint(eager=True)
    scoped2 = delta.scoped_changelog(spark, SF, tables_old, tables_adm)
    assert full2.count() > 0
    assert scoped2.exceptAll(full2).count() == 0
    assert full2.exceptAll(scoped2).count() == 0


def test_delta_scoped_changelog_hierarchy_and_ags_only(spark):
    """A dump refresh that changes ONLY the hierarchy table, or ONLY the
    AGS map, with features/alt_names byte-identical — the ADVICE r05
    repro: the default affected set used to diff only features/alt, so
    these changelogs came back empty while the full diff was not."""
    tables_old = build.gazetteer_tables(spark, SF)
    old = build.build_kg(spark, SF, tables=tables_old)

    # hierarchy-only: drop the country edge of child 1 (a PCLI row whose
    # parent_admin is unbound, so final_parent reads the hierarchy join
    # and the dropped edge is visible in the output)
    tables_h = dict(tables_old)
    tables_h["hierarchy"] = tables_old["hierarchy"].filter(
        F.col(tables_old["hierarchy"].columns[1]) != 1)
    new_h = build.build_kg(spark, SF, tables=tables_h)
    full_h = delta.triple_changelog(old, new_h).localCheckpoint(eager=True)
    assert full_h.count() > 0  # the mutation is visible in the output
    scoped_h = delta.scoped_changelog(spark, SF, tables_old, tables_h)
    assert scoped_h.exceptAll(full_h).count() == 0
    assert full_h.exceptAll(scoped_h).count() == 0

    # ags-only: rewrite one admin1_code's AGS value -> every ADM feature
    # resolving through that admin1_code emits a different P439 triple
    tables_g = dict(tables_old)
    tables_g["ags_map"] = tables_old["ags_map"].withColumn(
        "ags", F.when(F.col("admin1_code") == "1", F.lit("99"))
        .otherwise(F.col("ags")))
    new_g = build.build_kg(spark, SF, tables=tables_g)
    full_g = delta.triple_changelog(old, new_g).localCheckpoint(eager=True)
    assert full_g.count() > 0
    scoped_g = delta.scoped_changelog(spark, SF, tables_old, tables_g)
    assert scoped_g.exceptAll(full_g).count() == 0
    assert full_g.exceptAll(scoped_g).count() == 0
    # and the scope stayed narrow (the point of the input-diff prune)
    affected = delta.affected_ids_from_dump_diff(
        tables_old["features"], tables_g["features"],
        tables_old["alt_names"], tables_g["alt_names"],
        tables_old["hierarchy"], tables_g["hierarchy"],
        tables_old["ags_map"], tables_g["ags_map"])
    assert affected.count() < tables_old["features"].count() / 2
