"""PII detection + redaction for web-corpus curation.

Standard practice before training on crawled text (C4, RefinedWeb,
FineWeb all ship a variant): replace emails / IPs / phone-like numbers
/ SSN-shaped ids with typed placeholder tokens and surface per-kind
counts so the curation layer can gate on PII density.

Everything is pure ``pyspark.sql.functions`` Column work
(``regexp_replace`` / ``regexp_count``) — JVM regex in whole-stage
codegen, no Python in the hot path, trivially map-parallel at corpus
scale.  The patterns are deliberately CONSERVATIVE (no lookaround, no
catastrophic backtracking shapes) and expressible identically in RE2,
so the DuckDB twin used by the parity test runs the same literal
patterns (`tests/test_tdp_operators.py::test_redact_pii_duck_parity`).

Semantics, pinned by tests:

- kinds apply SEQUENTIALLY in the documented order (email, ssn, ipv4,
  phone): each kind is counted on the text with all earlier kinds
  already redacted, then redacted itself.  This makes the kinds
  mutually exclusive — an SSN or a dotted IPv4 is digit-shaped enough
  to also match the phone pattern, and independent counting would
  double-count it; sequentially, ``n_pii`` is exactly the number of
  placeholders in ``text_redacted``;
- NULL text stays NULL with zero counts (the ``token_count`` NULL
  contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ordered: applied top to bottom during redaction
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # 9-16 digits allowing single space/dash/dot separators, optional +;
    # anchored on digit boundaries so it does not eat arbitrary numbers
    # embedded in words.  The \b sits AFTER the optional '+' (ADVICE r05:
    # \b\+? never held following whitespace — both sides non-word — so
    # '+14155551234' left a stray '+' outside the placeholder).
    "phone": r"\+?\b\d(?:[ .-]?\d){8,15}\b",
}


# Deterministic PII planted into every doc_id % PII_INJECT_MOD == 0 row
# by the driver's text_quality_features oracle pair (the real documents
# corpus is PII-free, so without injection the redaction row would prove
# nothing: all counts 0, text unchanged).  One instance of each kind, in
# a shape that survives the sequential count-then-redact contract.
PII_INJECT_SUFFIX = (" contact sam.lee@mail.example.org from 10.1.2.3"
                     " call +1 415-555-0199 ssn 123-45-6789")
PII_INJECT_MOD = 7


def inject_pii(docs: DataFrame) -> DataFrame:
    """Append ``PII_INJECT_SUFFIX`` to the ``text`` of every ``doc_id %
    PII_INJECT_MOD == 0`` document (NULL text stays NULL — ``concat``
    propagates)."""
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % PII_INJECT_MOD == 0,
               F.concat(F.col("text"), F.lit(PII_INJECT_SUFFIX)))
        .otherwise(F.col("text")))


def inject_pii_sql() -> str:
    """DuckDB twin of ``inject_pii`` over the ``documents`` table (``||``
    propagates NULL like ``concat``) — a derived-table SQL string."""
    sfx = PII_INJECT_SUFFIX.replace("'", "''")
    return (f"(SELECT * REPLACE (CASE WHEN doc_id % {PII_INJECT_MOD} = 0"
            f" THEN text || '{sfx}' ELSE text END"
            f" AS text) FROM documents)")


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, text_redacted, n_email, n_ssn, n_ipv4, n_phone, n_pii)
    — one row per input document, sequential count-then-redact per
    kind of its ``text`` (see module docstring)."""
    text = F.col("text")
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(F.coalesce(F.regexp_count(text, F.lit(pat)),
                                 F.lit(0)).alias(f"n_{kind}"))
        text = F.regexp_replace(text, pat, f"<{kind.upper()}>")
    out = docs.select("doc_id", text.alias("text_redacted"), *counts)
    total = sum((F.col(f"n_{k}") for k in PII_PATTERNS), F.lit(0))
    return out.withColumn("n_pii", total)


def pii_oracle_sql(table: str = "documents") -> str:
    """The DuckDB twin (RE2 dialect, same literal patterns, same
    sequential count-then-redact chain) — used by the pytest parity
    check; written here so the patterns cannot drift from the SQL
    independently."""
    ctes, prev_t, prev = [], "text", table
    for i, (k, p) in enumerate(PII_PATTERNS.items()):
        carried = ", ".join(f"n_{kk}" for kk in
                            list(PII_PATTERNS)[:i])
        carried = (carried + ", ") if carried else ""
        ctes.append(
            f"s{i} AS (SELECT doc_id, {carried}"
            f"CASE WHEN {prev_t} IS NULL THEN 0 ELSE "
            f"len(regexp_extract_all({prev_t}, '{p}')) END AS n_{k}, "
            f"regexp_replace({prev_t}, '{p}', '<{k.upper()}>', 'g')"
            f" AS t FROM {prev})")
        prev, prev_t = f"s{i}", "t"
    names = list(PII_PATTERNS)
    total = " + ".join(f"n_{k}" for k in names)
    cols = ", ".join(f"n_{k}" for k in names)
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT doc_id, t AS text_redacted, {cols},"
            f" {total} AS n_pii FROM {prev}")
