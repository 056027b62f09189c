"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, codegen'd — no Python in the hot
path): token counting, quality scoring, n-gram-heuristic language ID, and
document fingerprinting.  Each has a DuckDB oracle twin (oracle.py).
They read a documents table by its column names: ``doc_id``, ``text``
and, where a language or source matters, ``lang`` and ``source``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark.session import ensure_parallel

# tiny per-language stopword heads for the n-gram heuristic
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def token_count(text: Column) -> Column:
    """Whitespace token count, 0 for empty AND NULL text (r04 fix: NULL
    used to propagate — contradicting this contract — and a NULL count
    crashed downstream integer consumers like the sequence packer)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# BPE-style pre-tokenizer (GPT-2-ish), restricted to syntax both Java
# regex (Spark) and RE2 (DuckDB oracle) support — no lookahead: contraction
# suffixes, optional-space letter runs, digit runs, punctuation runs,
# whitespace runs.
BPE_SPLIT_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-pre-tokenizer segments (the token count an LLM data
    pipeline budgets by, vs the whitespace count ``token_count`` gives).
    Pure regexp_count — codegen, no UDF."""
    return F.coalesce(
        F.regexp_count(text, F.lit(BPE_SPLIT_RE)), F.lit(0)
    ).cast("int")


def _occurrences(text: Column, needle: str) -> Column:
    """Count of non-overlapping occurrences via the length-difference trick
    (stays in codegen; no UDF).  Uses LITERAL ``replace`` — not regexp —
    so a needle containing regex metachars (``.`` etc.) counts correctly
    and matches the DuckDB oracle's ``replace()`` exactly."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-document quality signals: length, token count, mean token
    length, punctuation/digit/uppercase ratios, stopword ratio."""
    t = F.col("text")
    n_chars = F.length(t)
    n_tok = token_count(t)
    strip = lambda pat: F.length(t) - F.length(F.regexp_replace(t, pat, ""))  # noqa: E731
    stop_hits = sum(
        (_occurrences(F.concat(F.lit(" "), t, F.lit(" ")), w) for w in LANG_MARKERS["en"]),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tok, F.lit(1)), 4).alias("mean_token_len"),
        F.round(strip(r"[^\p{L}\p{N}\s]") / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(strip(r"[^0-9]") / F.greatest(n_chars, F.lit(1)), 4).alias("digit_ratio"),
        F.round(strip(r"[^A-Z]") / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
        F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Scalar [0,1] quality score from the feature mix (heuristic weights)."""
    q = quality_features(docs)
    score = (
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * 0.4
        + (1 - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
        + (1 - F.least(F.col("digit_ratio") * 5, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 10, F.lit(1.0)) * 0.2
    )
    # 6 dp: the weighted sum of 4-dp features carries at most 5 decimals,
    # so this rounding is exact (never a cross-engine halfway case)
    return q.select("doc_id", F.round(score, 6).alias("quality"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-n-gram language ID: argmax of per-language marker hits,
    'und' (undetermined) when no marker fires.  Deterministic tie-break
    by language code order."""
    t = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {
        lang: sum((_occurrences(t, w) for w in ws), F.lit(0))
        for lang, ws in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):  # reversed fold => earliest wins ties
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return docs.select("doc_id", expr.alias("lang_pred"), best.alias("marker_hits"))


def lang_stopword_ratio(docs: DataFrame) -> DataFrame:
    """Stopword ratio against the document's OWN language's markers (the
    EN-marker ratio in ``quality_features`` systematically under-scores
    non-English docs — this is the per-language correction a multilingual
    curation pipeline needs).  Languages without a marker set score 0.
    Pure Column CASE cascade — codegen, no UDF."""
    t = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        s = sum((_occurrences(t, w) for w in LANG_MARKERS[lang]), F.lit(0))
        hits = F.when(F.col("lang") == lang, s).otherwise(hits)
    n_tok = token_count(F.col("text"))
    return docs.select(
        "doc_id", "lang",
        hits.alias("marker_hits"),
        F.round(hits / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
    )


def corpus_composition(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) corpus telemetry: doc count, token total, and
    quality mass — the composition report every curation pipeline tracks
    per shard (what am I training on, and how much of it?).

    Quality sums in exact integer MICRO-units (quality is 6-dp, so
    ``round(q * 1e6)`` is lossless): float summation order differs
    between engines/partitionings, integer summation doesn't — the
    report is bit-stable and oracle-replayable.  One map-side-combinable
    groupBy; the quality join is by doc_id on the same scan."""
    q = quality_score(docs)
    base = docs.select(
        "doc_id", "source", "lang",
        token_count(F.col("text")).alias("_tok"),
    )
    j = base.join(q, "doc_id")
    micro = F.round(F.col("quality") * 1e6).cast("bigint")
    return (
        j.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("total_tokens"),
            F.sum(micro).alias("quality_micro_sum"),
        )
        .withColumn(
            "mean_quality",
            F.round(F.col("quality_micro_sum")
                    / (F.col("n_docs") * F.lit(1e6)), 6),
        )
    )


def oov_rate(docs: DataFrame, top_k: int = 500) -> DataFrame:
    """Out-of-vocabulary rate against the corpus's OWN top-``top_k``
    unigram vocabulary — the cheap LM-free fluency signal (gibberish and
    boilerplate-free natural text separate cleanly on OOV mass).

    Two passes, both scale-shaped: (1) global unigram counts (map-side
    combinable groupBy) -> top-K via TakeOrdered with DETERMINISTIC ties
    (count desc, token asc — so the vocabulary, and therefore every
    score, is reproducible and oracle-replayable); (2) token stream
    broadcast-joined against the K-row vocabulary, per-doc aggregate.
    Returns (doc_id, n_tokens, n_oov, oov_rate); empty/NULL docs score
    (0, 0, 0.0)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))),
                          r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("tok"))
        .limit(top_k)
        .select("tok", F.lit(1).alias("_in"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("_in").isNull()).alias("n_oov"),
        )
    )
    return (
        docs.select("doc_id").join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.round(F.coalesce(F.col("n_oov"), F.lit(0))
                    / F.greatest(F.coalesce(F.col("n_tokens"), F.lit(0)),
                                 F.lit(1)), 4).alias("oov_rate"),
        )
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Canonical-form document fingerprint: md5 of the lower-cased,
    whitespace-collapsed text (stable across cosmetic edits)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling-window (winnowing-family) fingerprint: the minimum hash
    over all character 16-gram windows of the normalized text — robust to
    APPENDS and PREPENDS (any edit outside the minimizing window leaves
    the fingerprint unchanged), unlike the whole-document md5.

    Window hashes compare as md5 hex strings (lexicographic min ==
    numeric min of the big-endian value); texts shorter than a window
    hash as one window.  Pure Column pipeline: sequence -> transform ->
    array_min, all codegen."""
    k = 16
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    n = F.length(norm)
    starts = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    windows = F.transform(starts, lambda i: F.md5(norm.substr(i, F.lit(k))))
    return docs.select("doc_id", F.array_min(windows).alias("fingerprint"))


# --- character n-gram LM quality filter (CCNet-style) ----------------------

def _char_ngram_expr(text: Column, n: int) -> Column:
    """Array of character n-grams of the normalized text — pure Column
    (sequence -> transform -> substr), stays in codegen."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    ln = F.length(norm)
    return F.when(
        ln >= n,
        F.transform(F.sequence(F.lit(1), ln - F.lit(n - 1)),
                    lambda i: norm.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>"))


def train_char_lm(docs: DataFrame, n: int = 3, top_k: int = 50_000) -> dict:
    """Train a character n-gram language model distributed: ONE map-side-
    combinable groupBy count per order (n and n-1), capped at ``top_k``
    entries each via TakeOrdered with deterministic ties.  Returns a
    plain-dict bundle (broadcastable): the CCNet recipe's LM, built on
    the cluster instead of imported.

    Probability model at scoring time: Laplace-smoothed conditional
    P(c_n | prefix) = (count_n + 1) / (count_prefix + V), V = 256.
    """
    def counts(order: int) -> dict:
        rows = (
            docs.select(F.explode(_char_ngram_expr(F.col("text"), order))
                        .alias("g"))
            .groupBy("g").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("g")).limit(top_k)
            .collect()
        )
        return {r["g"]: r["c"] for r in rows}

    return {"n": n, "ngram": counts(n), "prefix": counts(n - 1), "V": 256}


def lm_perplexity(docs: DataFrame, lm: dict) -> DataFrame:
    """Score each document with the trained char-LM:
    (doc_id, n_grams, avg_nll, ppl).  Documents shorter than the LM
    order score NULL (no evidence), not 0 — a filter must distinguish
    'fluent' from 'unmeasurable'.

    Scale shape: the LM is a broadcast dict; scoring is one Arrow batch
    pass, linear in corpus size (the standard perplexity-filter layout —
    model-side state small, corpus-side streaming)."""
    import math

    import pandas as pd

    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(lm)

    def score(batches):
        m = bc.value
        n, grams, prefix, V = m["n"], m["ngram"], m["prefix"], m["V"]
        for pdf in batches:
            ids, cnt, nll, ppl = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                norm = " ".join((text or "").lower().split())
                k = len(norm) - n + 1
                ids.append(did)
                if k < 1:
                    cnt.append(0)
                    nll.append(None)
                    ppl.append(None)
                    continue
                total = 0.0
                for i in range(k):
                    g = norm[i:i + n]
                    c_n = grams.get(g, 0)
                    c_p = prefix.get(g[:-1], 0)
                    total += -math.log((c_n + 1.0) / (c_p + V))
                avg = total / k
                cnt.append(k)
                nll.append(round(avg, 4))
                ppl.append(round(math.exp(avg), 4))
            yield pd.DataFrame({"doc_id": ids, "n_grams": cnt,
                                "avg_nll": nll, "ppl": ppl})

    return ensure_parallel(docs.select("doc_id", "text")).mapInPandas(
        score, schema="doc_id bigint, n_grams int, avg_nll double, ppl double")


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_line_frac``  — 1 - distinct/total over non-blank lines (the
      'same boilerplate line repeated' signal), pure array Columns;
    - ``dup_word_frac``  — 1 - distinct/total over words, pure Columns;
    - ``top_bigram_share`` — occurrences of the most frequent word bigram
      / total bigrams (the 'looping n-gram' signal), via explode +
      map-side-combinable count + per-doc max — the one shuffle here is
      keyed (doc_id, bigram) and combines before the exchange.

    Gopher's published cut-offs for reference: drop if dup_line_frac >
    0.30 or top-2-gram share > 0.20 (tune per corpus).  Empty docs score
    0.0 everywhere (clean, not NULL — absence of text is not repetition).
    """
    from geonames_rdf_spark.operators.dedup import word_ngram_expr

    lines = F.filter(F.split(F.col("text"), "\n"),
                     lambda t: F.trim(t) != "")
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                     lambda t: t != "")

    def dup_frac(arr):
        return F.when(
            F.size(arr) > 0,
            F.round(1 - F.size(F.array_distinct(arr)) / F.size(arr), 4),
        ).otherwise(F.lit(0.0))

    base = docs.select(
        "doc_id",
        dup_frac(lines).alias("dup_line_frac"),
        dup_frac(words).alias("dup_word_frac"),
    )
    grams = docs.select(
        "doc_id",
        F.explode(word_ngram_expr(F.col("text"), 2)).alias("g"))
    shares = (
        grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_share"))
    )
    return (base.join(shares, "doc_id", "left")
            .fillna({"top_bigram_share": 0.0}))
