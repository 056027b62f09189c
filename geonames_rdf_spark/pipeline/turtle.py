"""Turtle sink (A6): prefixed, subject-grouped serialization.

The reference's native output format is Turtle (``map.sh:61-65`` writes
``places.ttl``/``alternateNames.ttl``; ``merge_rdf_files.sh:12-21``
concatenates them).  N-Triples stays the distributed-friendly default
(``materialize.write_ntriples`` — line-independent, splittable); this
module adds the Turtle form:

- IRIs compact to prefixed names against the reference's PREFIX block
  when the local part is a safe PN_LOCAL, else stay ``<...>``;
- triples group by subject into ``subj p1 o1 ;\\n    p2 o2 .`` blocks
  (deterministically sorted within the block);
- every PARTITION emits its own @prefix header — re-declaring a prefix
  is legal Turtle, so each part file is a valid document AND plain
  concatenation (the reference's merge step) stays valid.  No
  single-file coalesce is forced at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark import vocab

# reference PREFIX block (places.rq:1-10, consolidate.rq:1-5)
PREFIXES: dict[str, str] = {
    "gn": vocab.GN,
    "wgs84_pos": vocab.WGS84,
    "rdf": vocab.RDF,
    "rdfs": vocab.RDFS,
    "xsd": vocab.XSD,
    "foaf": vocab.FOAF,
    "dcterms": vocab.DCTERMS,
    "cc": vocab.CC,
    "owl": vocab.OWL,
    "skos": vocab.SKOS,
    "wdt": vocab.WDT,
}

# conservative PN_LOCAL: leading letter/underscore, then word chars,
# medial dots allowed but not trailing (Turtle grammar's '.' ambiguity)
_PN_LOCAL = r"^[A-Za-z_][A-Za-z0-9_.\-]*$"


def turtle_header() -> str:
    return "\n".join(
        f"@prefix {p}: <{ns}> ." for p, ns in sorted(PREFIXES.items())
    )


def _compact_iri(col: Column) -> Column:
    """Prefixed name when the IRI splits into a known namespace + safe
    local part, else ``<iri>``; blank-node labels pass through bare."""
    out = F.concat(F.lit("<"), col, F.lit(">"))
    for p, ns in PREFIXES.items():
        local = F.substring(col, len(ns) + 1, 1 << 20)
        ok = (
            col.startswith(ns)
            & local.rlike(_PN_LOCAL)
            & ~local.endswith(".")
        )
        out = F.when(ok, F.concat(F.lit(p + ":"), local)).otherwise(out)
    return F.when(col.startswith("_:"), col).otherwise(out)


def _turtle_object(obj, obj_is_iri, obj_lang, obj_dt) -> Column:
    """Object term: compacted IRI, or the N-Triples literal form with the
    datatype IRI compacted (xsd:integer etc.).  Literal escaping is the
    shared canonical set (``\\ " \\n \\r \\t`` — terms.escape_literal):
    a raw newline/tab would emit an unterminated single-line string."""
    from geonames_rdf_spark.functions.terms import escape_literal

    quoted = F.concat(F.lit('"'), escape_literal(obj), F.lit('"'))
    return (
        F.when(obj_is_iri, _compact_iri(obj))
        .when(obj_lang.isNotNull(), F.concat(quoted, F.lit("@"), obj_lang))
        .when(obj_dt.isNotNull(),
              F.concat(quoted, F.lit("^^"), _compact_iri(obj_dt)))
        .otherwise(quoted)
    )


def to_turtle_blocks(triples: DataFrame) -> DataFrame:
    """One row per subject: the sorted predicate-object block.

    Pure Column pipeline — ONE shuffle (the subject groupBy); rendering
    and sorting happen in the aggregation's array functions, JVM-side.
    ``rdf:type`` renders as Turtle's ``a`` shorthand.
    """
    pred_txt = F.when(
        F.col("pred") == vocab.RDF_TYPE, F.lit("a")
    ).otherwise(_compact_iri(F.col("pred")))
    po = F.struct(
        pred_txt.alias("p"),
        _turtle_object(F.col("obj"), F.col("obj_is_iri"),
                       F.col("obj_lang"), F.col("obj_dt")).alias("o"),
    )
    grouped = triples.groupBy("subj").agg(
        F.array_sort(F.collect_list(po)).alias("po")
    )
    body = F.concat_ws(
        " ;\n    ",
        F.transform("po", lambda x: F.concat_ws(" ", x["p"], x["o"])),
    )
    return grouped.select(
        F.col("subj").alias("_subj"),
        F.concat(_compact_iri(F.col("subj")), F.lit(" "), body,
                 F.lit(" .")).alias("line"),
    )


def to_turtle(triples: DataFrame, sort: bool = False) -> DataFrame:
    """Turtle block lines; ``sort=True`` pins a global subject order
    (the reference's ORDER BY ?uri in consolidate.rq:66 — use only for
    golden comparisons, it forces a range-partition sort) in ONE
    partition, so the output does not depend on the input's partitioning."""
    blocks = to_turtle_blocks(triples)
    if sort:
        # the range partitioner's bounds are sampled per input partition,
        # so a multi-partition sort would cut part files (each with its
        # own header) at places that follow the input's partitioning
        blocks = blocks.orderBy("_subj").coalesce(1)
    return blocks.select("line")


# --- Turtle source (the A8 inverse: read back .ttl) ------------------------

_TOKEN_RE = None  # compiled lazily (module import stays cheap)


def _token_re():
    global _TOKEN_RE
    if _TOKEN_RE is None:
        import re

        _TOKEN_RE = re.compile(
            r"""
            (?P<ws>\s+)
          | (?P<prefix>@prefix\s+(?P<pname>[A-Za-z_][\w-]*):\s*
             <(?P<pns>[^>]*)>\s*\.)
          | <(?P<iri>[^>]*)>
          | (?P<bnode>_:[A-Za-z0-9]+)
          | "(?P<lit>(?:[^"\\]|\\.)*)"
            (?:@(?P<lang>[A-Za-z0-9-]+)
              |\^\^(?:<(?P<dtiri>[^>]*)>
                    |(?P<dtp>[A-Za-z_][\w-]*):(?P<dtl>[A-Za-z_][\w.\-]*)))?
          | (?P<semi>;)
          | (?P<dot>\.)
          | (?P<a>a)(?![\w:])
          | (?P<pp>[A-Za-z_][\w-]*):(?P<pl>[A-Za-z_][\w.\-]*)
            """,
            re.X,
        )
    return _TOKEN_RE


def _unescape_py(s: str) -> str:
    """Decode the canonical ``\\\\ \\" \\n \\r \\t`` escapes (two-phase:
    escaped backslash -> sentinel first, so ``\\\\n`` stays backslash+n)."""
    s = s.replace("\\\\", "\x00")
    s = (s.replace('\\"', '"').replace("\\n", "\n")
         .replace("\\r", "\r").replace("\\t", "\t"))
    return s.replace("\x00", "\\")


def parse_turtle_text(text: str) -> list[tuple]:
    """Parse the Turtle subset this module WRITES (prefixed subject
    blocks; also valid for plain concatenations of such documents) into
    6-tuples (subj, pred, obj, obj_is_iri, obj_lang, obj_dt).

    Not a general Turtle parser: no base IRIs, collections, anonymous
    ``[]`` nodes, multi-line ``\"\"\"`` strings, or object lists — those
    raise rather than mis-parse.
    """
    prefixes: dict[str, str] = {}
    triples: list[tuple] = []
    state = "subj"  # subj -> pred -> obj -> punct
    subj = pred = None
    pos, n = 0, len(text)
    rx = _token_re()
    while pos < n:
        m = rx.match(text, pos)
        if m is None:
            snippet = text[pos:pos + 40]
            raise ValueError(f"turtle: cannot tokenize at {pos}: {snippet!r}")
        pos = m.end()
        if m.group("ws"):
            continue
        if m.group("prefix"):
            if state != "subj":
                raise ValueError("turtle: @prefix inside a statement")
            prefixes[m.group("pname")] = m.group("pns")
            continue

        def pname(p, local):
            try:
                return prefixes[p] + local
            except KeyError:
                raise ValueError(f"turtle: undeclared prefix {p}:") from None

        if state == "subj":
            if m.group("iri") is not None:
                subj = m.group("iri")
            elif m.group("bnode"):
                subj = m.group("bnode")
            elif m.group("pp"):
                subj = pname(m.group("pp"), m.group("pl"))
            else:
                raise ValueError(f"turtle: bad subject token {m.group(0)!r}")
            state = "pred"
        elif state == "pred":
            if m.group("a"):
                pred = vocab.RDF_TYPE
            elif m.group("iri") is not None:
                pred = m.group("iri")
            elif m.group("pp"):
                pred = pname(m.group("pp"), m.group("pl"))
            else:
                raise ValueError(f"turtle: bad predicate token {m.group(0)!r}")
            state = "obj"
        elif state == "obj":
            if m.group("lit") is not None:
                dt = m.group("dtiri")
                if dt is None and m.group("dtp"):
                    dt = pname(m.group("dtp"), m.group("dtl"))
                triples.append((subj, pred, _unescape_py(m.group("lit")),
                                False, m.group("lang"), dt))
            elif m.group("iri") is not None:
                triples.append((subj, pred, m.group("iri"), True, None, None))
            elif m.group("bnode"):
                triples.append((subj, pred, m.group("bnode"), True, None, None))
            elif m.group("pp"):
                triples.append((subj, pred, pname(m.group("pp"), m.group("pl")),
                                True, None, None))
            elif m.group("a"):
                # bare 'a' is only the type shorthand in predicate position
                raise ValueError("turtle: 'a' in object position")
            else:
                raise ValueError(f"turtle: bad object token {m.group(0)!r}")
            state = "punct"
        else:  # punct
            if m.group("semi"):
                state = "pred"
            elif m.group("dot"):
                state = "subj"
            else:
                raise ValueError(f"turtle: expected ; or . got {m.group(0)!r}")
    if state != "subj":
        raise ValueError("turtle: unterminated statement at end of document")
    return triples


TRIPLE_SCHEMA = ("subj string, pred string, obj string, obj_is_iri boolean,"
                 " obj_lang string, obj_dt string")


def read_turtle(spark, path: str) -> DataFrame:
    """Read a directory of Turtle part files (as written by
    ``write_turtle``) back into the 6-column triple table.

    ``wholetext=True`` gives one row PER FILE — each part file is a
    self-contained document (its own @prefix header), so parsing
    distributes file-per-task; statements never span files.  The parse
    runs in an Arrow batch (``mapInPandas``), not on the driver.
    """
    cols = ["subj", "pred", "obj", "obj_is_iri", "obj_lang", "obj_dt"]

    def parse(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for txt in pdf["value"]:
                if txt and txt.strip():
                    rows.extend(parse_turtle_text(txt))
            yield pd.DataFrame(rows, columns=cols)

    return (spark.read.text(path, wholetext=True)
            .mapInPandas(parse, TRIPLE_SCHEMA))


def write_turtle(triples: DataFrame, path: str, sort: bool = False) -> None:
    """Write part files that are each a complete Turtle document (header
    per partition) and whose concatenation is also valid Turtle."""
    hdr = turtle_header()

    def add_header(batches):
        first = True
        for pdf in batches:
            if first and len(pdf):
                pdf = pd.concat(
                    [pd.DataFrame({"line": [hdr]}), pdf], ignore_index=True
                )
                first = False
            yield pdf

    (to_turtle(triples, sort=sort)
     .mapInPandas(add_header, "line string")
     .write.mode("overwrite").text(path))
