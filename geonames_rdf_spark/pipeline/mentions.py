"""Toponym mention detection + candidate generation (stage S3).

One gazetteer serves both scans: the scored surface map
(``build_scored_surface_map``: surface -> scored candidates) and the
Aho-Corasick matcher over its surfaces are built once on the driver and
broadcast together as one ``(matcher, scored_map)`` bundle; the scans run
inside ``mapInPandas`` over Arrow batches.  Candidates are read from the
map inline, so the Zipf-skewed mention->candidate 'join' never shuffles
at all — the classic broadcast defeat of join skew.  For gazetteer sides
too big to broadcast, use ``operators.skew.salted_join`` instead.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark import memo
from geonames_rdf_spark.pipeline.matcher import build_matcher, scored_fingerprint


def detect_mentions(
    pages: DataFrame,
    scored_map: dict[str, list[tuple[int, float, str]]],
    carry_lang: bool = False,
    from_html: bool = False,
) -> DataFrame:
    """(url, surface, begin, end, candidate[, lang]) — one row per candidate
    of ``scored_map`` (``build_scored_surface_map``), the map
    ``detect_and_link`` scans with.

    ``carry_lang=True`` propagates the page language with each mention so
    the linker's context feature needs NO join back to the (huge) page
    table — context rides the narrow mention stream instead.

    ``from_html=True`` FUSES text extraction into the scan batch (one
    Python/Arrow hop instead of two): at high parallelism every chained
    pandas stage is its own Python worker per task slot, and the extra
    hop's Arrow ser/deser + process oversubscription measurably
    anti-scales (see BENCH.md).  Extraction semantics are byte-identical
    (same ``extract.extract_text_py`` pure function).

    The (matcher, map) broadcast is shared with ``detect_and_link`` and
    reused across calls with equal map content (``_matcher_broadcast``).
    """
    bc = _matcher_broadcast(pages.sparkSession, scored_map)
    text_col = "html" if from_html else "text"
    cols = ["url", text_col] + (["lang"] if carry_lang else [])
    if from_html:
        from geonames_rdf_spark.pipeline.extract import extract_text_py

    def scan(batches):
        ac, smap = bc.value
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in
                                     ("url", "surface", "begin", "end",
                                      "candidates")}
            if carry_lang:
                rows["lang"] = []
            # Series -> list once: per-element pandas indexing in the row
            # loop costs more than the scan itself on short pages
            urls = pdf["url"].tolist()
            texts = pdf[text_col].tolist()
            langs = pdf["lang"].tolist() if carry_lang else urls
            for url, text, lang in zip(urls, texts, langs):
                if from_html:
                    text = extract_text_py(text) if text is not None else None
                if not text:
                    continue
                for start, pat in ac.scan(text):
                    # ONE row per match; the candidate fan-out (Zipf-hot
                    # surfaces carry many ids) explodes JVM-side below —
                    # ~|candidates|x less data across the Arrow boundary
                    rows["url"].append(url)
                    rows["surface"].append(pat)
                    rows["begin"].append(start)
                    rows["end"].append(start + len(pat))
                    rows["candidates"].append(
                        [cid for cid, _, _ in smap[pat]])
                    if carry_lang:
                        rows["lang"].append(lang)
            # a batch without a match has nothing to send: an empty
            # object column cannot convert to array<bigint>
            if rows["url"]:
                yield pd.DataFrame(rows)

    match_schema = ("url string, surface string, begin int, end int,"
                    " candidates array<bigint>")
    out_cols = ["url", "surface", "begin", "end",
                F.explode("candidates").alias("candidate")]
    if carry_lang:
        match_schema += ", lang string"
        out_cols.append("lang")
    return pages.select(*cols).mapInPandas(scan, schema=match_schema).select(
        *out_cols)


# --- fused scan + link (the 100 TB hot path) -------------------------------

def _matcher_broadcast(spark, scored_map: dict):
    """Broadcast of ``(build_matcher(scored_map), scored_map)`` — the ONE
    way both scans get their matcher.  Building the automaton and
    broadcasting it is a per-CALL fixed cost: driver trie/regex compile +
    pickle, then every Python worker unpickles AND recompiles the regex
    program once per broadcast id.  Repeated scans over the same
    gazetteer (bench passes, incremental micro-batches, the per-bucket
    resume loop, the mentions and linked stages of one pipeline) would pay
    it every time, so the broadcast is memoized (site "matcher", one
    constant key, token ``scored_fingerprint`` — keys AND candidates, so a
    map whose candidate ids or priors changed broadcasts fresh even when
    its surfaces did not; one live entry bounds memory).  This reuses a
    *dimension* broadcast, never results: every scan still computes from
    its input pages."""
    return memo.get(
        spark, "matcher", None, scored_fingerprint(scored_map),
        lambda: spark.sparkContext.broadcast(
            (build_matcher(scored_map), scored_map)))


def build_scored_surface_map(features) -> dict[str, list[tuple[int, float, str]]]:
    """surface -> [(geonameid, log10(pop+1), country_code)], candidates
    pre-sorted by (-prior, id) so in-scan argmax is a short forward pass."""
    import math

    rows = (
        features.select("bestName", "geonameid", "population", "country_code")
        .collect()
    )
    out: dict[str, list[tuple[int, float, str]]] = {}
    for r in rows:
        if not r["bestName"]:
            continue
        prior = round(math.log10((r["population"] or 0) + 1), 6)
        out.setdefault(r["bestName"], []).append(
            (int(r["geonameid"]), prior, r["country_code"])
        )
    for v in out.values():
        v.sort(key=lambda t: (-t[1], t[0]))
    return out


def detect_and_link(pages,
                    scored_map: dict[str, list[tuple[int, float, str]]],
                    from_html: bool = False):
    """Mention detection + candidate scoring + per-mention argmax, all
    inside the Arrow batch — the candidate fan-out for hot toponyms never
    materializes, so NOTHING shuffles per candidate (the downstream
    mention-triple dedup is the only exchange).  Scoring semantics are
    identical to ``link.link_mentions`` (population prior + language
    bonus, ties to the lowest geonameid); equivalence is pinned by
    tests/test_pipeline.py::test_fused_link_equivalence.

    Returns (url, surface, begin, end, geonameid, score).
    """
    from geonames_rdf_spark.pipeline.link import LANG_BONUS, LANG_COUNTRY

    bc = _matcher_broadcast(pages.sparkSession, scored_map)
    text_col = "html" if from_html else "text"
    if from_html:
        from geonames_rdf_spark.pipeline.extract import extract_text_py

    def scan(batches):
        ac, smap = bc.value
        lang_cc = {k: f"C{v}" for k, v in LANG_COUNTRY.items()}
        for pdf in batches:
            rows = {c: [] for c in
                    ("url", "surface", "begin", "end", "geonameid", "score")}
            for url, text, lang in zip(pdf["url"].tolist(),
                                       pdf[text_col].tolist(),
                                       pdf["lang"].tolist()):
                if from_html:
                    text = extract_text_py(text) if text is not None else None
                if not text:
                    continue
                bonus_cc = lang_cc.get(lang)
                for start, pat in ac.scan(text):
                    best_id, best_score = None, None
                    for cid, prior, cc in smap[pat]:
                        s = prior + (LANG_BONUS if cc == bonus_cc else 0.0)
                        if best_score is None or s > best_score or (
                            s == best_score and cid < best_id
                        ):
                            best_id, best_score = cid, s
                        elif prior + LANG_BONUS < best_score:
                            # candidates sorted by prior desc: nothing later
                            # can beat OR tie best even with the bonus
                            break
                    rows["url"].append(url)
                    rows["surface"].append(pat)
                    rows["begin"].append(start)
                    rows["end"].append(start + len(pat))
                    rows["geonameid"].append(best_id)
                    rows["score"].append(round(best_score, 6))
            yield pd.DataFrame(rows)

    return pages.select("url", text_col, "lang").mapInPandas(
        scan,
        schema="url string, surface string, begin int, end int,"
               " geonameid bigint, score double",
    )
