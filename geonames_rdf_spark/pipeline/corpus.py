"""Deterministic Common-Crawl-style page corpus (input_hint schema).

Synthesizes the web-page table ``(url, warc_ts, html, text, lang)`` with
toponym surface forms from the gazetteer embedded at Zipf-skewed
frequency (hot toponyms dominate — the skew the linker's join strategy
must survive).  Fully deterministic: every field is a pure arithmetic
function of the page id (LCG-style mixing; no RNG, no clock).

The html is a fixed wrapping of the text, so the extraction UDF has an
exact byte-identity target (per-url invariant from BASELINE.json).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MIX = 2654435761  # Knuth multiplicative-hash constant
LANGS = ("en", "en", "en", "de", "fr")
EPOCH = 1577836800  # 2020-01-01T00:00:00Z

TEMPLATES = {
    "en": "Page {i} reports on {m}. Officials said the plan was fine.",
    "de": "Seite {i} berichtet ueber {m}. Beamte nannten den Plan gut.",
    "fr": "La page {i} parle de {m}. Les autorites ont approuve le plan.",
}


def _mix(*xs: int) -> int:
    h = 0
    for x in xs:
        h = ((h ^ x) * MIX) % (1 << 32)
    return h


def page_fields(i: int, surfaces: list[str], hot: list[str]) -> tuple[str, int, str, str]:
    """(url, ts_epoch, text, lang) for page ``i`` — pure function."""
    lang = LANGS[i % len(LANGS)]
    n_mentions = 2 + (i % 3)
    names = []
    for j in range(n_mentions):
        r = _mix(i, j, 17)
        if hot and r % 10 < 4:  # 40% of mentions hit the hot head (Zipf-ish)
            names.append(hot[r % len(hot)])
        else:
            names.append(surfaces[r % len(surfaces)])
    mention_str = " and ".join(names)
    text = TEMPLATES[lang].format(i=i, m=mention_str)
    url = f"https://example.org/{lang}/page-{i}.html"
    return url, EPOCH + i, text, lang


def wrap_html(i: int, text: str) -> bytes:
    return (
        f"<html><head><title>Page {i}</title></head>"
        f"<body><p>{text}</p></body></html>"
    ).encode("utf-8")


def gazetteer_surfaces(features_with_bestname: DataFrame) -> list[str]:
    """The first 5000 distinct bestName surface forms, deterministic
    order, driver-side.

    Dimension-sized (GeoNames has ~13M names vs 10^12 pages) — safe to
    collect and broadcast.
    """
    rows = (
        features_with_bestname.select("bestName").distinct()
        .orderBy("bestName").limit(5000).collect()
    )
    return [r["bestName"] for r in rows]


def synthesize_pages(
    spark: SparkSession,
    surfaces: list[str],
    n_pages: int,
    partitions: int | None = None,
) -> DataFrame:
    """Build the page corpus distributedly: spark.range -> mapInPandas.

    The surface list rides the closure once per executor (broadcast-sized);
    page construction is per-batch pandas, no per-row Python.  The first
    two surfaces are the hot head.
    """
    hot = surfaces[:2]
    base = spark.range(n_pages)
    if partitions:
        base = base.repartition(partitions)

    def gen_rowwise(batches):
        for pdf in batches:
            recs = []
            for i in pdf["id"].tolist():
                url, ts, text, lang = page_fields(int(i), surfaces, hot)
                recs.append((url, ts, wrap_html(int(i), text), text, lang))
            out = pd.DataFrame(
                recs, columns=["url", "ts_epoch", "html", "text", "lang"]
            )
            yield out

    def gen(batches):
        # numpy-vectorized twin of ``page_fields``/``wrap_html`` (guide
        # §4.2: batch work in native code, not per-row Python) — the _mix
        # LCG, surface selection and string assembly run as array ops.
        # Byte-identical output is pinned by
        # test_r09_optimizations.py::test_synthesize_pages_vectorized_parity.
        import numpy as np

        surf = np.array(surfaces, dtype=object)
        hot_arr = np.array(hot, dtype=object)
        langs = np.array(LANGS, dtype=object)
        mask32 = np.uint64(0xFFFFFFFF)
        mult = np.uint64(MIX)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            u = ids.astype(np.uint64)
            # name_j for j in 0..3 (n_mentions = 2 + i%3 <= 4)
            names = []
            for j in range(4):
                h = (u * mult) & mask32                       # mix(i)
                h = ((h ^ np.uint64(j)) * mult) & mask32      # mix(.., j)
                r = ((h ^ np.uint64(17)) * mult) & mask32     # mix(.., 17)
                pick_surf = surf[(r % np.uint64(len(surf))).astype(np.int64)]
                if len(hot_arr):
                    use_hot = (r % np.uint64(10)) < np.uint64(4)
                    pick_hot = hot_arr[
                        (r % np.uint64(len(hot_arr))).astype(np.int64)]
                    names.append(np.where(use_hot, pick_hot, pick_surf))
                else:
                    names.append(pick_surf)
            nm = 2 + (ids % 3)
            m = names[0] + " and " + names[1]
            m = np.where(nm >= 3, m + " and " + names[2], m)
            m = np.where(nm >= 4, m + " and " + names[3], m)
            i_str = ids.astype(str).astype(object)
            lang = langs[ids % len(LANGS)]
            text = np.empty(len(ids), dtype=object)
            en = lang == "en"
            de = lang == "de"
            fr = lang == "fr"
            text[en] = ("Page " + i_str[en] + " reports on " + m[en]
                        + ". Officials said the plan was fine.")
            text[de] = ("Seite " + i_str[de] + " berichtet ueber " + m[de]
                        + ". Beamte nannten den Plan gut.")
            text[fr] = ("La page " + i_str[fr] + " parle de " + m[fr]
                        + ". Les autorites ont approuve le plan.")
            url = "https://example.org/" + lang + "/page-" + i_str + ".html"
            html = ("<html><head><title>Page " + i_str
                    + "</title></head><body><p>" + text
                    + "</p></body></html>")
            yield pd.DataFrame({
                "url": url,
                "ts_epoch": EPOCH + ids,
                "html": pd.Series(html).str.encode("utf-8"),
                "text": text,
                "lang": lang,
            })

    df = base.mapInPandas(
        # empty surface list: keep the row-wise path so the error surface
        # (ZeroDivisionError on the modulo) is unchanged
        gen if surfaces else gen_rowwise,
        schema="url string, ts_epoch long, html binary, text string, lang string"
    )
    return df.select(
        "url",
        F.timestamp_seconds(F.col("ts_epoch")).alias("warc_ts"),
        "html", "text", "lang",
    )
