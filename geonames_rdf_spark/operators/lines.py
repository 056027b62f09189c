"""Cross-corpus exact dedup of repeated text units (C4-style
boilerplate removal).

C4 (Raffel et al. 2020, §2.2) discards every repeated occurrence of a
three-sentence span across the WHOLE corpus, keeping exactly one; the
same pass is what strips cookie banners / nav bars / license footers
that survive per-document cleaning.  Two granularities share one core:

* ``dedup_lines`` — a LINE is kept only at its globally-first
  occurrence (smallest ``(doc_id, pos)`` over every document containing
  it, which also removes repeats WITHIN a document), and every document
  is reassembled from its surviving lines in original order.
* ``dedup_spans`` — the C4-faithful unit: consecutive sentences grouped
  into non-overlapping ``n_sentences``-sentence spans.  Sentence
  boundaries are marked portably (insert a sentinel after ``[.!?]`` +
  whitespace, then split on it — RE2 has no lookbehind, so the
  sentinel render is what both engines share); reassembly joins
  surviving spans with a single space, so span-mode output is
  whitespace-normalized at span boundaries (documented, pinned).

Scale shape (10^12 docs, the whole point of the pass):

* Units are keyed by ``md5(unit)`` for the global-winner aggregation,
  so the wide shuffle moves 32-byte keys + two ints, never text.
  (md5 because both engines compute it identically; a 128-bit key makes
  collisions a non-issue at any corpus size.)
* The winner per key is ``min(struct(doc_id, pos))`` — a hash aggregate
  with map-side partial combine, so a boilerplate unit occurring 10^9
  times contributes ONE candidate per map task to the exchange (the
  Zipf head of repeated units is exactly the skew this absorbs).
* Keeping is an inner join back on ``(key, doc_id, pos)`` — the winner
  side is one row per DISTINCT unit, already shuffled by key.
* Reassembly is one aggregation keyed by ``doc_id`` (sort the kept
  ``(pos, unit)`` structs inside the group, not a global sort).  The
  aggregation buffer holds ONE document's surviving units — the same
  memory bound as materializing that document's text anywhere else in
  the pipeline, and nothing like a corpus-sized group.

Units shorter than ``min_chars`` are exempt from dedup entirely (C4
applies its span filter only to long-enough spans; deduping one-word
lines would shred ordinary prose) — exempt units skip the wide shuffle
too.  ``dedup_lines`` takes the floor as a parameter whose default is
deliberately a conservative POSITIVE value: a library caller who forgets
the knob must not silently dedup one-word lines corpus-wide (VERDICT r06
#5; the CLI still forces an explicit value); ``dedup_spans`` always uses
that default.

Both read a documents table ``(doc_id, text)``; lines are split on
``\\n``.

NULL-text documents are treated as empty text (ADVICE r06): they
surface in the output with their one empty exempt line, honoring the
one-row-per-input-document contract instead of vanishing from an inner
join downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Units shorter than this are exempt from dedup (kept verbatim).  A
#: 15-char floor spares fragments ("Yes.", list bullets, blank lines)
#: while still catching any realistic boilerplate sentence/banner.
DEFAULT_MIN_CHARS = 15

#: Unit separator inserted at sentence boundaries by dedup_spans before
#: splitting (RE2 — DuckDB's regex engine — has no lookbehind, so both
#: engines mark boundaries with a sentinel instead).  \x01 cannot occur
#: in sane corpus text; documents containing it would split early,
#: identically in both engines.
_SENT = "\x01"


def _finish(lines: DataFrame, min_chars: int, out_sep: str,
            totals: DataFrame) -> DataFrame:
    """Shared core: global first-occurrence winner election over
    ``(doc_id, pos, line)`` unit rows, short units exempt, documents
    rebuilt joining surviving units with ``out_sep``.

    ``totals``: (doc_id, _n_total) — the per-document unit count,
    computed by the caller NARROWLY from the un-exploded document
    (``size`` over the split/start arrays).  It used to be a second
    full scan + explode of the corpus feeding a count aggregation —
    one whole corpus pass saved (r09); the unit count per document is
    a function of the document alone."""
    dedupable = lines.filter(F.length("line") >= min_chars) \
        .withColumn("_k", F.md5("line"))
    exempt = lines.filter(F.length("line") < min_chars)

    winners = (dedupable.groupBy("_k")
               .agg(F.min(F.struct("doc_id", "pos")).alias("_w"))
               .select("_k", F.col("_w.doc_id").alias("_w_doc"),
                       F.col("_w.pos").alias("_w_pos")))
    # join on the md5 key ALONE (winner is unique per key, the position
    # match is a post-join filter): the winner side then reuses its
    # groupBy partitioning instead of being re-exchanged by the composite
    # (key, doc_id, pos) — one exchange fewer, same kept set
    kept = (dedupable.join(winners, "_k")
            .filter((F.col("doc_id") == F.col("_w_doc"))
                    & (F.col("pos") == F.col("_w_pos")))
            .select("doc_id", "pos", "line")
            .unionByName(exempt))

    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s.line),
                        out_sep).alias("text"),
                    F.count(F.lit(1)).alias("n_lines_kept")))
    # sum per doc_id: one narrow row per input row arrives here, so a
    # duplicate-id input still totals like the old per-line count did
    totals = totals.groupBy("doc_id").agg(
        F.sum("_n_total").alias("_n_total"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("text"), F.lit("")).alias("text"),
                    F.coalesce(F.col("n_lines_kept"), F.lit(0))
                    .cast("int").alias("n_lines_kept"),
                    (F.col("_n_total") -
                     F.coalesce(F.col("n_lines_kept"), F.lit(0)))
                    .cast("int").alias("n_lines_removed")))


def dedup_lines(docs: DataFrame,
                min_chars: int = DEFAULT_MIN_CHARS) -> DataFrame:
    """One row per input document: ``text`` rebuilt from the lines that
    survive global first-occurrence dedup, plus kept/removed counts.
    Documents whose every line is removed come back with empty text
    (and ``n_lines_kept = 0``) — they stay visible so a downstream
    length filter can drop them explicitly; NULL text behaves as empty
    text (one exempt empty line).
    """
    parts = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    lines = docs.select("doc_id", F.posexplode(parts).alias("pos", "line"))
    totals = docs.select("doc_id", F.size(parts).alias("_n_total"))
    return _finish(lines, min_chars, "\n", totals)


def dedup_spans(docs: DataFrame, n_sentences: int = 3) -> DataFrame:
    """C4-faithful variant: the dedup unit is a span of ``n_sentences``
    consecutive sentences (non-overlapping windows over the document's
    sentence sequence; a trailing partial window is a unit too).
    Sentence boundary = sentence-final punctuation ``[.!?]`` followed by
    whitespace — the whitespace is consumed, so reassembly (surviving
    spans joined by one space) is whitespace-NORMALIZED at span
    boundaries while text inside a span is untouched.  Same output
    contract and same scale shape as ``dedup_lines``.
    """
    # explicit whitespace class, NOT \s: Java regex \s includes \x0B
    # (vertical tab) while DuckDB's RE2 \s excludes it — the shared
    # class keeps the two renderings split-identical (ADVICE r07)
    sents = F.split(
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")),
                         r"([.!?])[ \t\n\r\f]+", "$1" + _SENT),
        _SENT)
    n = F.size(sents)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(n_sentences))
    spans = docs.select(
        "doc_id", sents.alias("_s"), n.alias("_n"),
        F.posexplode(starts).alias("pos", "_start")) \
        .select("doc_id", "pos",
                F.array_join(
                    F.slice(F.col("_s"), F.col("_start") + 1,
                            F.lit(n_sentences)), " ").alias("line"))
    totals = docs.select("doc_id", F.size(starts).alias("_n_total"))
    return _finish(spans, DEFAULT_MIN_CHARS, " ", totals)


def _core_sql(lines_cte: str, min_chars: int, out_sep_sql: str) -> str:
    """DuckDB rendering of the SAME semantics (independent formulation:
    window rank over the unit text itself instead of the md5-key
    aggregate-and-join) — for oracle rows and parity tests."""
    return f"""
WITH lines AS ({lines_cte}),
ranked AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(line) < {min_chars} THEN 1
              ELSE ROW_NUMBER() OVER (
                PARTITION BY CASE WHEN length(line) >= {min_chars}
                                  THEN line END
                ORDER BY doc_id, pos) END AS rn
  FROM lines
),
kept AS (SELECT doc_id, pos, line FROM ranked WHERE rn = 1),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id,
         string_agg(line, {out_sep_sql} ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(r.text, '') AS text,
       CAST(COALESCE(r.n_kept, 0) AS INT) AS n_lines_kept,
       CAST(t.n_total - COALESCE(r.n_kept, 0) AS INT) AS n_lines_removed
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


def dedup_lines_sql(docs_sql: str,
                    min_chars: int = DEFAULT_MIN_CHARS) -> str:
    """DuckDB twin of ``dedup_lines`` (see ``_core_sql``)."""
    lines_cte = f"""
  SELECT doc_id, u.pos - 1 AS pos, u.line
  FROM ({docs_sql}) d,
       LATERAL (SELECT UNNEST(string_split(COALESCE(d.text, ''),
                                           chr(10))) AS line,
                       generate_subscripts(
                           string_split(COALESCE(d.text, ''),
                                        chr(10)), 1) AS pos) u"""
    return _core_sql(lines_cte, min_chars, "chr(10)")


def dedup_spans_sql(docs_sql: str, n_sentences: int = 3) -> str:
    """DuckDB twin of ``dedup_spans``: the same sentinel-split sentence
    boundaries (RE2 replacement refs are ``\\1``), spans re-grouped by
    ``floor(sentence_idx / n)`` instead of an explicit start sequence —
    an independent formulation of the same windows."""
    sents = ("string_split(regexp_replace(COALESCE(d.text, ''),"
             " '([.!?])[ \\t\\n\\r\\f]+', '\\1' || chr(1), 'g'),"
             " chr(1))")
    lines_cte = f"""
  SELECT doc_id, pos, string_agg(sent, ' ' ORDER BY sidx) AS line
  FROM (
    SELECT doc_id, u.sidx,
           CAST(floor((u.sidx - 1) / {n_sentences}) AS BIGINT) AS pos,
           u.sent
    FROM ({docs_sql}) d,
         LATERAL (SELECT UNNEST({sents}) AS sent,
                         generate_subscripts({sents}, 1) AS sidx) u
  ) GROUP BY doc_id, pos"""
    return _core_sql(lines_cte, DEFAULT_MIN_CHARS, "' '")
