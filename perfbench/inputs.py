"""Seeded input generation for the benchmark workloads.

Everything the program reads is written here, as parquet, from a numpy
generator seeded with ``--seed``: the same seed gives byte-identical
inputs.  The program sees only these files.

* gazetteer base tables (``customer`` / ``orders``): the key layout of the
  TPC-H tables the synthesis derives the GeoNames world from
  (``c_custkey`` 0..N-1, ``o_orderkey`` 0..10N-1); the seed draws each
  order's customer.
* web pages (``url, html, lang``): 2-4 gazetteer surface forms per page,
  drawn by the seed, wrapped in the page templates of a crawl.
* near-dup corpus (``doc_id, text``): seeded base documents, each with
  ``VARIANTS`` copies that differ from it by one replaced word.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# rows per scale-factor unit, as in the TPC-H tables
CUSTOMERS_PER_SF = 150_000
ORDERS_PER_CUSTOMER = 10

LANGS = ("en", "en", "en", "de", "fr")
TEMPLATES = {
    "en": "Page {i} reports on {m}. Officials said the plan was fine.",
    "de": "Seite {i} berichtet ueber {m}. Beamte nannten den Plan gut.",
    "fr": "La page {i} parle de {m}. Les autorites ont approuve le plan.",
}

VARIANTS = 10          # near-dup copies per base document
DOC_WORDS = 150        # words per base document
VOCAB = 5000           # near-dup vocabulary size


def gazetteer(dirpath: str, sf: float, seed: int) -> None:
    """Write ``customer.parquet`` and ``orders.parquet``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(round(CUSTOMERS_PER_SF * sf)), 120)
    n_ord = n_cust * ORDERS_PER_CUSTOMER
    pd.DataFrame({"c_custkey": np.arange(n_cust, dtype="int64")}).to_parquet(
        f"{dirpath}/customer.parquet", index=False)
    pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype="int64"),
    }).to_parquet(f"{dirpath}/orders.parquet", index=False)


def pages(path: str, surfaces: list[str], n_pages: int, seed: int,
          files: int) -> int:
    """Write the page corpus as ``files`` parquet files; returns the number
    of distinct (page, surface) pairs, which is the number of mention
    triples a correct ingest emits (every surface links to one feature,
    and different surfaces are the best names of different features)."""
    rng = np.random.default_rng([seed, 2])
    surf = np.array(sorted(surfaces), dtype=object)
    n_mentions = rng.integers(2, 5, n_pages)
    picks = rng.integers(0, len(surf), (n_pages, 4))
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_pages)]
    urls, htmls, expected = [], [], 0
    for i in range(n_pages):
        names = surf[picks[i, :n_mentions[i]]]
        expected += len(set(names))
        text = TEMPLATES[langs[i]].format(i=i, m=" and ".join(names))
        urls.append(f"https://example.org/{langs[i]}/page-{seed}-{i}.html")
        htmls.append((f"<html><head><title>Page {i}</title></head>"
                      f"<body><p>{text}</p></body></html>").encode("utf-8"))
    df = pd.DataFrame({"url": urls, "html": htmls, "lang": langs})
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(n_pages), files)):
        df.iloc[part].to_parquet(f"{path}/part-{k:03d}.parquet", index=False)
    return expected


def near_dup_docs(path: str, n_docs: int, seed: int, files: int) -> dict:
    """Write ``n_docs`` documents in families of ``VARIANTS`` one-word edits
    of a random base document.

    Two variants of one family share at least ``DOC_WORDS - 8`` of their
    ``DOC_WORDS - 2`` word 3-shingles (Jaccard >= 0.92), so MinHash LSH
    with 16 bands of 4 rows misses such a pair with probability below
    1e-8 and every one of them estimates well above the 0.5 threshold.
    Documents of different families, drawn from a 5000-word vocabulary,
    share at most a stray shingle, far too little for a 4-row band to
    collide.  The exact answer is therefore every within-family pair and
    nothing else."""
    rng = np.random.default_rng([seed, 3])
    families = max(n_docs // VARIANTS, 1)
    words = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    base = rng.integers(0, VOCAB, (families, DOC_WORDS))
    docs = np.repeat(base, VARIANTS, axis=0)
    rows = np.arange(families * VARIANTS)
    docs[rows, rng.integers(0, DOC_WORDS, len(rows))] = rng.integers(
        0, VOCAB, len(rows))
    text = [" ".join(words[d]) for d in docs]
    df = pd.DataFrame({"doc_id": rows.astype("int64"), "text": text})
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(rows, files)):
        df.iloc[part].to_parquet(f"{path}/part-{k:03d}.parquet", index=False)
    return {"docs": len(rows),
            "pairs": families * VARIANTS * (VARIANTS - 1) // 2}
