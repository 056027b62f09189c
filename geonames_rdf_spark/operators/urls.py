"""URL canonicalization + URL-level page dedup.

The cheapest dedup pass a Common-Crawl-shaped corpus runs FIRST: the
same page is crawled many times under trivially-different URLs (case in
the host, default ports, `www.`, tracking params, fragments, trailing
slashes).  Canonicalizing the URL and keeping one row per canonical
form removes those before any text-level dedup spends a shuffle on
them.

Everything is a chain of ``regexp_replace``/``regexp_extract`` Column
expressions (codegen, zero-shuffle for the normalize step; the dedup is
one window keyed by the canonical url).  The transform chain is defined
ONCE as ``_STEPS`` and rendered into both the Spark Column and the
DuckDB twin (``url_oracle_expr``) so the two cannot drift — parity is
pytest-pinned on adversarial URLs
(`test_normalize_url_duck_parity`).

Normalization rules, in order (each cites the common-crawler practice):

1. strip the fragment (`#...` — never sent to the server);
2. lowercase the scheme+authority (DNS is case-insensitive; paths are
   NOT lowercased — they are case-sensitive on most origins);
3. drop default ports (`:80` for http, `:443` for https);
4. drop a leading `www.`;
5. drop tracking query params (`utm_*`, `fbclid`, `gclid`);
6. strip a trailing `?`/`&` left by (5) and collapse trailing slashes;
7. uppercase percent-encoding hex (`%7e` -> `%7E`, RFC 3986 §6.2.2.1)
   — http(s) URLs only, structural (split/transform/join, not regex);
8. sort query parameters byte-wise (`?b=2&a=1` -> `?a=1&b=2`) — the
   highest-frequency reorder dup source after tracking params.

Steps 2, 7, 8 are structural (they need extract/transform/sort, which a
regexp_replace chain cannot express) and are hand-rendered twice; their
cross-engine agreement is pinned by the adversarial parity test AND the
driver's warc+url oracle row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TRACK = r"(utm_[a-z]+|fbclid|gclid)"

# (pattern, spark_replacement, duckdb_replacement) applied in order to
# the full URL (after the scheme+authority lowercasing step, which is
# structural and handled separately in both renderings).  Port patterns
# bound the authority with [^/?#] and accept '?' as a terminator
# (ADVICE r05: ':80?x=1' kept its port, and a greedy [^/]* could strip
# ':80' out of a query string).
_STEPS: list[tuple[str, str, str]] = [
    (r"#.*$", "", ""),                                  # 1 fragment
    (r"^(http://[^/?#]*):80([/?]|$)", "$1$2", r"\1\2"),  # 3 default port
    (r"^(https://[^/?#]*):443([/?]|$)", "$1$2", r"\1\2"),
    (r"^(https?://)www\.", "$1", r"\1"),                # 4 www.
    (r"&" + _TRACK + r"=[^&]*", "", ""),                # 5 &utm_x=...
    (r"\?" + _TRACK + r"=[^&]*&", "?", "?"),            # 5 ?utm_x=...&
    (r"\?" + _TRACK + r"=[^&]*$", "", ""),              # 5 ?utm_x=...EOF
    (r"[?&]+$", "", ""),                                # 6 dangling ? &
    (r"([^/])/+$", "$1", r"\1"),                        # 6 trailing /
]

_HEX2 = r"^[0-9a-fA-F]{2}"


def normalize_url_expr(url: Column) -> Column:
    """Canonical form of ``url`` as a Column expression (NULL-safe)."""
    # lowercase scheme://authority, keep the rest byte-identical
    prefix = F.regexp_extract(url, r"^([^/?#]*//[^/?#]*)", 1)
    out = F.concat(F.lower(prefix),
                   F.substring(url, F.length(prefix) + 1, F.lit(1 << 30)))
    out = F.when(url.isNull(), F.lit(None).cast("string")).otherwise(out)
    for pat, rep, _ in _STEPS:
        out = F.regexp_replace(out, pat, rep)
    # 7: %xx hex case — split on '%', uppercase each piece's leading hex
    # pair, rejoin.  Gated to http(s) so the first piece always starts
    # with 'h' (never itself a hex pair) and non-URL strings pass
    # through untouched.
    pct = F.array_join(
        F.transform(
            F.split(out, "%"),
            lambda x: F.when(
                x.rlike(_HEX2),
                F.concat(F.upper(F.substring(x, 1, 2)),
                         F.substring(x, 3, F.lit(1 << 30)))).otherwise(x)),
        "%")
    out = F.when(out.rlike(r"^https?://"), pct).otherwise(out)
    # 8: byte-wise query-param sort (after tracking-param removal, so the
    # sort never resurrects a stripped param's neighbors ordering)
    qpos = F.locate("?", out)
    sorted_q = F.array_join(
        F.array_sort(F.split(F.substring(out, qpos + 1, F.lit(1 << 30)),
                             "&")), "&")
    out = F.when(
        out.isNotNull() & (qpos > 0),
        F.concat(F.substring(out, 1, qpos), sorted_q)).otherwise(out)
    return out


def url_oracle_expr(col_sql: str) -> str:
    """The DuckDB rendering of the SAME chain (regex ``_STEPS`` in RE2
    replacement syntax + the structural steps 2/7/8) — one SQL scalar
    expression."""
    prefix = f"regexp_extract({col_sql}, '^([^/?#]*//[^/?#]*)', 1)"
    out = (f"lower({prefix}) || substr({col_sql},"
           f" len({prefix}) + 1)")
    for pat, _, rep in _STEPS:
        # standard SQL single-quoted literals pass backslashes through
        # verbatim, so '\1' reaches RE2 as a group reference as-is
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    # 7: %xx hex case (gated to http(s), mirroring the Spark rendering;
    # the first split piece starts with 'h', never a hex pair)
    pct = (f"array_to_string(list_transform(string_split(({out}), '%'),"
           f" x -> CASE WHEN regexp_matches(x, '{_HEX2}')"
           f" THEN upper(substr(x, 1, 2)) || substr(x, 3)"
           f" ELSE x END), '%')")
    out = (f"CASE WHEN regexp_matches(({out}), '^https?://')"
           f" THEN ({pct}) ELSE ({out}) END")
    # 8: byte-wise query-param sort
    qpos = f"instr(({out}), '?')"
    sorted_q = (f"array_to_string(list_sort(string_split("
                f"substr(({out}), ({qpos}) + 1), '&')), '&')")
    out = (f"CASE WHEN ({qpos}) > 0"
           f" THEN substr(({out}), 1, ({qpos})) || ({sorted_q})"
           f" ELSE ({out}) END")
    return f"CASE WHEN {col_sql} IS NULL THEN NULL ELSE {out} END"


def dedup_pages_by_url(pages: DataFrame) -> DataFrame:
    """One row per canonical ``url`` — the earliest ``warc_ts`` capture
    wins (ties to
    the lexicographically smallest raw url, so the survivor is
    deterministic under any partitioning).  Adds ``url_canonical``;
    keeps every input column.  One shuffle keyed by the canonical url.

    r09: ``min_by`` winner election instead of a window row_number —
    the argmin partial-combines map-side, so the exchange carries ~one
    surviving row per canonical url per map task instead of EVERY
    capture (on a re-crawl-heavy corpus the dup factor is the whole
    point of this pass), and nothing sorts the html payload.  The
    ordering struct (ts-is-null, ts, raw url) reproduces the former
    ``asc_nulls_last(ts), asc(url)`` orderBy exactly.
    """
    norm = normalize_url_expr(F.col("url")).alias("url_canonical")
    with_norm = pages.select("*", norm)
    payload = [c for c in with_norm.columns if c != "url_canonical"]
    order_key = F.struct(
        F.col("warc_ts").isNull().cast("int").alias("_null_last"),
        F.col("warc_ts").alias("_ts"),
        F.col("url").alias("_url"),
    )
    won = (with_norm.groupBy("url_canonical")
           .agg(F.min_by(F.struct(*[F.col(c) for c in payload]),
                         order_key).alias("_w")))
    return won.select(
        *[F.col(f"_w.{c}").alias(c) for c in payload], "url_canonical")
