"""HTML -> text extraction (pipeline stage S1).

Arrow-vectorized scalar pandas UDF; byte-identical per url (the project's
per-row invariant).  The extractor is a deterministic pure function: strip
tags, collapse the known block structure, unescape the five XML entities.
No external HTML library (not in the container) — the regex pipeline below
IS the pinned extractor version; golden byte-equality tests freeze it.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_HEAD_RE = re.compile(r"(?s)<head\b.*?</head>")
_TAG_RE = re.compile(r"(?s)<[^>]+>")
_WS_RE = re.compile(r"\s+")
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&amp;", "&")]


def extract_text_py(html: bytes) -> str:
    """Pure-function extractor; keyed only by the html bytes."""
    s = html.decode("utf-8", errors="replace")
    s = _HEAD_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def with_extracted_text(pages) -> "pyspark.sql.DataFrame":  # noqa: F821
    """Compute ``text`` from ``html`` where a row carries none (mirrors
    'skip if text present', SURVEY.md §7 S1)."""
    return pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text(F.col("html")))
    )
