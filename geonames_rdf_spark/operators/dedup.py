"""Deduplication operators for training-data pipelines.

Exact dedup is a hash-groupBy (fully oracle-checkable); near-dup detection
ships three scale-path families — MinHash+LSH, SimHash, and n-gram
Jaccard verification — with all hashing derived from md5 (no Python
``hash()``: that is salted per process and would break determinism across
executors).  Signatures are computed in Arrow-batched pandas UDFs; the
candidate generation is a band-bucket self-join (shuffle keyed by band
hash, quadratic only within buckets), never an all-pairs cross join.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geonames_rdf_spark.session import ensure_parallel

# 2^31-1: keeps a*x inside uint64 for the numpy-vectorized hash family
MERSENNE = (1 << 31) - 1


def _h64(s: str) -> int:
    return struct.unpack("<Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(text_hash, keep_id, n_dups): one row per distinct ``text``; keep_id
    = min ``doc_id`` (deterministic survivor), n_dups = cluster size."""
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _shingles(text: str, k: int) -> set[str]:
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return set(map(" ".join, zip(*(toks[i:] for i in range(k)))))


CHUNK_ITEMS = 8192
"""Item instances (shingles or tokens) per signature chunk.  Each chunk
hashes its distinct items once and gathers one row per instance, so
the bound caps a Python worker's working set at a few MB whatever the
Arrow batch size.  A chunk closes at the first document that reaches
the bound, so it holds at most ``CHUNK_ITEMS`` plus one document."""


def _reduce_per_doc(groups, rows_of, ufunc, empty):
    """One reduced row per document, computed chunk by chunk.

    ``groups`` yields each document's items (strings).  Per chunk of
    about ``CHUNK_ITEMS`` instances, every distinct item is md5-hashed
    once (``_h64``), ``rows_of(h)`` maps the uint64 hashes to one row per
    distinct item, and each document's row is ``ufunc.reduceat`` over
    its run of instance rows.  A document without items gets ``empty``,
    a row whose dtype is also the reduction's.  Returns an
    ``(n_docs, width)`` array.
    """
    import numpy as np

    def reduce_chunk(flat, starts):
        codes, uniq = pd.factorize(np.array(flat, dtype=object))
        h = np.fromiter(map(_h64, uniq), dtype=np.uint64, count=len(uniq))
        rows = rows_of(h)
        starts = np.array(starts, dtype=np.intp)
        res = np.empty((len(starts), len(empty)), dtype=empty.dtype)
        # a document's run ends where the next non-empty one starts
        has = np.diff(starts, append=len(flat)) > 0
        res[~has] = empty
        if flat:
            res[has] = ufunc.reduceat(rows[codes], starts[has], axis=0,
                                      dtype=empty.dtype)
        return res

    out, flat, starts = [], [], []
    for items in groups:
        starts.append(len(flat))
        flat.extend(items)
        if len(flat) >= CHUNK_ITEMS:
            out.append(reduce_chunk(flat, starts))
            flat, starts = [], []
    if starts or not out:
        out.append(reduce_chunk(flat, starts))
    return np.concatenate(out)


N_HASHES = 64
"""MinHash signature width: 16 LSH bands of 4 rows."""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, sig array<long>) — MinHash over the word 3-shingles of
    ``text``, ``N_HASHES`` wide, keyed by ``doc_id``.

    Universal-hash family a*x+b mod p with (a, b) derived from md5 of the
    seed index — identical on every executor, every run.  x is a
    shingle's md5 mod p; a document without shingles (empty or NULL
    text) hashes as x = 0.
    """
    params = [
        (1 | _h64(f"minhash-a-{i}") % MERSENNE, _h64(f"minhash-b-{i}") % MERSENNE)
        for i in range(N_HASHES)
    ]

    def sig(batches):
        import numpy as np

        A = np.array([p[0] for p in params], dtype=np.uint64)
        B = np.array([p[1] for p in params], dtype=np.uint64)
        P = np.uint64(MERSENNE)

        def family(h):
            # (a*x + b) mod p over (n_distinct, N_HASHES), in place; a,
            # x < 2^31 so a*x fits in uint64, and the result fits in
            # uint32, whose row-wise minimum runs about twice as fast
            v = (h % P)[:, None] * A
            v += B
            v %= P
            return v.astype(np.uint32)

        for pdf in batches:
            sigs = _reduce_per_doc(
                (_shingles(t or "", 3) for t in pdf["text"]),
                family, np.minimum, B.astype(np.uint32))  # x = 0 hashes to b
            yield pd.DataFrame({"id": pdf["doc_id"].to_numpy(),
                                "sig": list(sigs.astype(np.int64))})

    return ensure_parallel(docs.select("doc_id", "text")).mapInPandas(
        sig, schema="id bigint, sig array<bigint>")


def _guard_oversized_buckets(keyed: DataFrame, key_cols: list[str],
                             max_bucket: int,
                             observation=None) -> DataFrame:
    """Cap the per-bucket cardinality of an LSH candidate self-join.

    One boilerplate-heavy cluster (cookie banners, SEO templates) can put
    10^6+ docs into a single band bucket and turn the within-bucket join
    quadratic.  This guard counts rows per bucket (one extra shuffle,
    co-partitioned with the candidate join) and salts each oversized
    bucket into ``ceil(n/max_bucket)`` groups joined within-group only,
    bounding work at ~max_bucket^2 per group (cross-group pairs in that
    bucket are sacrificed — a documented recall cap, never silent work
    blowup).

    ``observation`` (pyspark Observation) rides the next action with
    (oversized_rows, total_rows) so lineage can record what was degraded.
    Returns ``keyed`` plus a ``_salt`` column to join on beside
    ``key_cols``.

    r09 shape: the per-bucket count is a WINDOW over the bucket key —
    one exchange of the keyed rows, after which the candidate self-join
    runs co-partitioned (hash partitioning on the bucket key satisfies
    the join's clustering even with the salt appended); the former
    groupBy + join-back paid a second join pass for the same ``_bn``.
    """
    from pyspark.sql import Window

    out = keyed.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy(*key_cols)))
    if observation is not None:
        out = out.observe(
            observation,
            F.count_if(F.col("_bn") > max_bucket).alias("oversized_rows"),
            F.count(F.lit(1)).alias("total_rows"),
        )
    n_groups = F.greatest(F.ceil(F.col("_bn") / F.lit(max_bucket)), F.lit(1))
    return (out.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("id").cast("string")), n_groups))
        .drop("_bn"))


DEFAULT_MAX_BUCKET = 100_000
"""Default per-bucket cardinality cap for the LSH self-joins.  Always
finite: an unguarded band bucket turns quadratic the moment one
boilerplate cluster floods it (10^6 docs in one bucket = 10^12 candidate
pairs).  100k keeps worst-case within-bucket work at ~10^10 comparisons
per oversized group — bounded, loud (observe() telemetry), and far above
any non-pathological bucket."""


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16,
                        n_hashes: int = N_HASHES,
                        max_bucket: int = DEFAULT_MAX_BUCKET,
                        guard_observation=None) -> DataFrame:
    """Band the signatures, bucket-join, emit candidate (id_a < id_b) pairs.

    One shuffle keyed by (band, bucket-hash); hot buckets are bounded by
    band width, and the join is within-bucket only — the LSH trick that
    makes near-dup detection linear-ish at corpus scale.

    ``n_hashes`` is a parameter (the caller that built the signatures
    knows it) — probing the data with ``first()`` would run an eager job
    re-executing the signature stage and crash on an empty corpus.  A
    width-guard fails loudly if the parameter disagrees with the actual
    signature arrays (out-of-range ``sig[idx]`` is NULL and ``concat_ws``
    SKIPS nulls, which would silently collide documents into shared
    band buckets instead of erroring).
    """
    rows_per_band = n_hashes // bands
    sigs = sigs.withColumn(
        "sig",
        F.when(F.size("sig") == n_hashes, F.col("sig")).otherwise(
            F.raise_error(F.concat(
                F.lit(f"lsh_candidate_pairs: expected {n_hashes}-hash"
                      " signatures, got width "),
                F.coalesce(F.size("sig").cast("string"), F.lit("NULL")),
            )).cast("array<bigint>")
        ),
    )
    # band-hash array as ONE parsed SQL expression: identical semantics
    # to the Column-API rendering (xxhash64 over the comma-joined band
    # positions) at a fraction of the plan-construction cost — the
    # per-element Column calls were ~160 py4j round trips per plan
    band_sql = "array({})".format(", ".join(
        "xxhash64(concat_ws(',', {}))".format(", ".join(
            f"cast(sig[{b * rows_per_band + r}] as string)"
            for r in range(rows_per_band)))
        for b in range(bands)))
    banded = sigs.select(
        "id", F.posexplode(F.expr(band_sql)).alias("band", "bucket"))
    banded = _guard_oversized_buckets(
        banded, ["band", "bucket"], max_bucket, guard_observation)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket", "_salt"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_similarity(sigs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature positions."""
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    # one parsed expression (identical semantics to the former
    # Column-API zip_with/filter lambdas, at a fraction of the py4j
    # plan-construction cost)
    agree = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(agree / F.size("sig_a"), 4).alias("est_jaccard"),
        )
    )


def collapse_identical_signatures(
        sigs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact-signature pre-collapse for the MinHash pipeline.

    Returns ``(members, vsigs)``: ``members`` is the input plus a ``vid``
    column (min member id per distinct signature — the group
    representative), ``vsigs`` is one ``(id, sig)`` row per DISTINCT
    signature.  One shuffle keyed by the full signature array
    (``array<bigint>`` is a valid Spark grouping key, so no lossy hash of
    the signature is involved).  Banding/LSH then runs over ``vsigs``
    only — a flood of literal duplicates contributes ONE row to the
    candidate join instead of n quadratic ones."""
    from pyspark.sql import Window

    m = sigs.withColumn(
        "vid", F.min("id").over(Window.partitionBy("sig"))
    ).localCheckpoint(eager=False)
    vsigs = (m.filter(F.col("id") == F.col("vid"))
             .select("id", "sig"))
    return m, vsigs


def minhash_near_dups(docs: DataFrame, threshold: float = 0.6,
                      guard_observation=None) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: (id_a, id_b, est_jaccard).

    Scale shape (mirrors ``simhash_near_dups`` — the two defenses a
    10^9+-doc corpus needs):

    1. **exact-signature pre-collapse** — documents are first grouped by
       their full signature ARRAY (one shuffle keyed by sig); banding and
       the bucket self-join run over DISTINCT signatures only, so a flood
       of literal duplicates (the most common web pathology: 10^6 copies
       of a template page share every band bucket) contributes ONE row to
       the LSH join instead of n quadratic ones.  Member pairs are
       expanded back afterwards: within-group pairs have est_jaccard 1.0
       by construction (all positions agree), cross-group pairs inherit
       the representative similarity.  Output is IDENTICAL to the
       uncollapsed pipeline — banding is a pure function of the
       signature, so two docs are candidates iff their signature values
       are — only the work shape changes.
    2. **finite bucket guard** — ``lsh_candidate_pairs`` caps buckets
       at ``DEFAULT_MAX_BUCKET`` (see there), bounding residual hot
       buckets of NEAR-but-distinct signatures.

    The member table ``m`` (inside ``collapse_identical_signatures``)
    feeds every consumer and is localCheckpointed there — its one
    materialization runs the mapInPandas shingling stage exactly once,
    so a second checkpoint layer on the raw signatures would only add a
    physical-planning pass and an extra block copy (removed r09).
    """
    m, vsigs = collapse_identical_signatures(minhash_signatures(docs))
    vpairs = lsh_candidate_pairs(vsigs, guard_observation=guard_observation)
    vsim = (minhash_similarity(vsigs, vpairs)
            .filter(F.col("est_jaccard") >= threshold)
            .withColumnRenamed("id_a", "vid_a")
            .withColumnRenamed("id_b", "vid_b"))
    ma = m.select(F.col("id").alias("ia"), F.col("vid").alias("vid_a"))
    mb = m.select(F.col("id").alias("ib"), F.col("vid").alias("vid_b"))
    cross = (
        vsim.join(ma, "vid_a").join(mb, "vid_b")
        .select(F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"), "est_jaccard")
    )
    within = (
        m.select(F.col("id").alias("ia"), "vid")
        .join(m.select(F.col("id").alias("ib"), "vid"), "vid")
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                F.lit(1.0).alias("est_jaccard"))
    )
    if threshold > 1.0:  # degenerate but keep the filter semantics exact
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Consolidate pairwise near-dup hits into CLUSTERS: (doc_id,
    cluster) for every document appearing in a pair, with ``cluster`` =
    the smallest doc_id in its connected component — the deterministic
    survivor.  This is the step production dedup actually keeps one doc
    per (FineWeb / BigCode "NearDedup" semantics): pairwise output alone
    over-deletes chains (A~B, B~C would drop both B and C under
    keep-the-smaller-per-pair even though A~C may not hold).

    Scale shape: delegates to ``operators.graph.connected_components``
    (hash-min + pointer doubling, O(log diameter) rounds, two
    exchange-sized joins per round, loud non-convergence) — the same
    kernel the sameAs canonicalization uses; a 10^6-member boilerplate
    cluster converges in ~20 rounds, not 10^6.  Docs in no pair are
    absent (they keep themselves; callers left-anti or coalesce).
    """
    from geonames_rdf_spark.operators.graph import connected_components

    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster"))


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, simhash bigint) — sign-sum of the md5 hashes of the words of
    ``text``, keyed by ``doc_id``."""

    def sig(batches):
        import numpy as np

        shifts = np.arange(64, dtype=np.uint64)

        def signs(h):
            # +1 where a token's hash bit is set, -1 where it is clear;
            # int8 rows summed into int32 gather and add fastest
            return ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int8) * 2 - 1

        for pdf in batches:
            # every token instance counts: the sign sums run over the
            # document's token list, not its distinct tokens
            acc = _reduce_per_doc(((t or "").split() for t in pdf["text"]),
                                  signs, np.add, np.full(64, -1, np.int32))
            v = ((acc > 0).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64)
            # stored as signed 64-bit
            yield pd.DataFrame({"id": pdf["doc_id"].to_numpy(),
                                "simhash": v.view(np.int64)})

    return ensure_parallel(docs.select("doc_id", "text")).mapInPandas(
        sig, schema="id bigint, simhash bigint")


def _simhash_chunk_exprs(col, n_blocks: int) -> list:
    """Disjoint bit-chunk expressions covering all 64 bits (the last block
    absorbs the ``64 % n_blocks`` remainder — full coverage is required
    for the pigeonhole recall guarantee)."""
    width = 64 // n_blocks
    out = []
    for i in range(n_blocks):
        w = width if i < n_blocks - 1 else 64 - i * width
        shifted = F.shiftrightunsigned(col, i * width)
        if w == 64:
            # n_blocks=1: the single chunk IS the full hash; a 2^64-1
            # mask would overflow the signed long literal
            out.append(shifted)
        else:
            out.append(shifted.bitwiseAND(F.lit((1 << w) - 1)))
    return out


def simhash_candidate_values(values: DataFrame, max_hamming: int = 3,
                             n_blocks: int | None = None) -> DataFrame:
    """Candidate pairs of DISTINCT ``simhash`` values (sh_a < sh_b) via
    Manku-style combinatorial blocking (Manku/Jain/Das Sarma, WWW'07).

    The 64 bits split into ``n_blocks`` disjoint chunks; a pair within
    hamming ``h`` differs in at most ``h`` chunks, so at least
    ``n_blocks - h`` chunks agree — every size-``(n_blocks - h)`` chunk
    combination is a join key, and at least one key collides for every
    true pair (COMPLETE).  Versus the naive one-chunk key this widens the
    key from 64/(h+1) bits to ``(n_blocks - h) * 64/n_blocks`` bits
    (h=3 default: 16 -> ~32 bits), which shrinks the expected bucket to
    ~n/2^32 — the within-bucket join stays linear-ish at web-corpus
    scale at the cost of C(n_blocks, n_blocks-h) keys per value
    (h=3: 20 keys).
    """
    import itertools

    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 64), got {max_hamming}")
    if n_blocks is None:
        if max_hamming:
            # widest key whose combo count stays sane; falls back toward
            # h+1 (the pigeonhole minimum, h+1 single-chunk keys) for
            # large radii where C(h+3, 3) would explode
            import math

            n_blocks = next(
                m for m in range(max_hamming + 3, max_hamming, -1)
                if math.comb(m, m - max_hamming) <= 512)
        else:
            n_blocks = 1
    if max_hamming and n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({max_hamming})"
            " for the pigeonhole guarantee")
    n_blocks = min(n_blocks, 64)
    chunks = _simhash_chunk_exprs(F.col("simhash"), n_blocks)
    combos = list(itertools.combinations(range(n_blocks),
                                         n_blocks - max_hamming))
    if len(combos) > 512:
        # C(n_blocks, n_blocks-h) explodes fast (e.g. 6-of-64 blocks =
        # 41k keys per value); a wide request is a parameter mistake, not
        # a plan we should silently execute
        raise ValueError(
            f"simhash blocking would emit {len(combos)} keys per value"
            f" (n_blocks={n_blocks}, max_hamming={max_hamming});"
            " reduce n_blocks")
    keys = values.select(
        "simhash",
        F.posexplode(F.array(*[
            F.xxhash64(F.concat_ws(
                ",", *[chunks[j].cast("string") for j in combo]))
            for combo in combos
        ])).alias("ck", "key"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, ["ck", "key"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"))
        .distinct()
    )


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dups by SimHash: (id_a, id_b, hamming), id_a < id_b.

    Scale shape (the two defenses a 10^9+-doc corpus needs):

    1. **exact pre-collapse** — documents are first grouped by simhash
       VALUE, and candidate generation runs over distinct values only, so
       a flood of literal duplicates (the most common web pathology)
       contributes ONE row to the blocking join instead of n quadratic
       ones; member pairs are expanded back afterwards (within-group
       pairs have hamming 0 by construction);
    2. **combinatorial blocking** (``simhash_candidate_values``) — the
       join key is ~32 bits (vs the naive 16-bit single chunk), keeping
       within-bucket joins linear-ish; candidate completeness is
       pigeonhole-guaranteed, so the verified output is IDENTICAL to an
       all-pairs popcount scan.
    """
    sigs = simhash_signatures(docs).localCheckpoint(eager=False)
    values = sigs.select("simhash").distinct()
    vcand = simhash_candidate_values(values, max_hamming)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    vpairs = (vcand.withColumn("hamming", hamming)
              .filter(F.col("hamming") <= max_hamming))
    ma = sigs.select(F.col("id").alias("ia"), F.col("simhash").alias("sh_a"))
    mb = sigs.select(F.col("id").alias("ib"), F.col("simhash").alias("sh_b"))
    cross = (
        vpairs.join(ma, "sh_a").join(mb, "sh_b")
        .select(F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"), "hamming")
    )
    within = (
        ma.join(sigs.select(F.col("id").alias("ib"),
                            F.col("simhash").alias("sh_a")), "sh_a")
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, k: int = 3) -> DataFrame:
    """Exact word-k-gram Jaccard for candidate pairs (verification stage).

    Texts join to the (small) candidate pair set; the set intersection
    runs in an Arrow batch.  (id_a, id_b, jaccard)."""
    joined = (
        pairs.join(docs.select(F.col("doc_id").alias("id_a"),
                               F.col("text").alias("text_a")), "id_a")
        .join(docs.select(F.col("doc_id").alias("id_b"),
                          F.col("text").alias("text_b")), "id_b")
    )

    import math

    def _round4(x: float) -> float:
        # HALF_UP like Spark's F.round / DuckDB's round — Python's built-in
        # round is banker's and disagrees on exact-halfway ratios (58/64)
        return math.floor(x * 10000 + 0.5) / 10000

    def jac(batches):
        for pdf in batches:
            vals = []
            for ta, tb in zip(pdf["text_a"], pdf["text_b"]):
                sa, sb = _shingles(ta or "", k), _shingles(tb or "", k)
                u = len(sa | sb)
                vals.append(_round4(len(sa & sb) / u) if u else 1.0)
            yield pdf[["id_a", "id_b"]].assign(jaccard=vals)

    return joined.mapInPandas(
        jac, schema="id_a bigint, id_b bigint, jaccard double"
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        planes: int = 16,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane-LSH candidates + exact
    cosine verify.  (id_a, id_b, cosine).

    Scale shape mirrors ``minhash_near_dups``: an **exact-vector
    pre-collapse** first (one shuffle keyed by the embedding array —
    re-crawled/mirrored pages embed IDENTICALLY and would otherwise
    flood every hyperplane bucket with n copies), so LSH bucketing and
    the candidate self-join run over DISTINCT vectors only; member
    pairs are expanded back afterwards (within-group pairs carry the
    self-cosine — 1.0 for any non-degenerate vector — and cross-group
    pairs inherit the representative cosine EXACTLY, because cosine is
    a function of the vectors alone).  Plus the ``DEFAULT_MAX_BUCKET``
    guard for residual hot buckets of near-but-distinct vectors.

    ``dim`` defaults to sampling one row (tiny setup job); pass it
    explicitly in pipelines where the width is known.  ``lsh_bucket``
    raises on any row whose width disagrees — a silent mismatch would
    NULL the hyperplane dots and collapse every vector into bucket 0."""
    from pyspark.sql import Window

    from geonames_rdf_spark.operators.similarity import cosine_expr, lsh_bucket

    if dim is None:
        # sample from a NON-NULL row: a NULL leading embedding would make
        # size() NULL and int(None) raise, defeating lsh_bucket's own
        # null-row tolerance (one bad row must not kill the pass)
        row = (embeddings.filter(F.col("embedding").isNotNull())
               .select(F.size("embedding").alias("d")).first())
        if row is None:
            dim = 0  # no non-null rows: any dim yields an empty result
        else:
            dim = int(row["d"])
    base = embeddings.select(F.col("vec_id").alias("id"),
                             F.col("embedding").alias("v"))
    m = base.withColumn(
        "vid", F.min("id").over(Window.partitionBy("v"))
    ).localCheckpoint(eager=False)
    sig = (m.filter(F.col("id") == F.col("vid"))
           .select("id", "v",
                   lsh_bucket(F.col("v"), planes, dim=dim).alias("bucket")))
    sig = _guard_oversized_buckets(sig, ["bucket"], DEFAULT_MAX_BUCKET)
    a, b = sig.alias("a"), sig.alias("b")
    vpairs = (
        a.join(b, ["bucket", "_salt"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("vid_a"), F.col("a.v").alias("va"),
                F.col("b.id").alias("vid_b"), F.col("b.v").alias("vb"))
        .withColumn("cosine", F.round(cosine_expr(F.col("va"),
                                                  F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vid_a", "vid_b", "cosine")
    )
    ma = m.select(F.col("id").alias("ia"), F.col("vid").alias("vid_a"))
    mb = m.select(F.col("id").alias("ib"), F.col("vid").alias("vid_b"))
    cross = (
        vpairs.join(ma, "vid_a").join(mb, "vid_b")
        .select(F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"), "cosine")
    )
    within = (
        m.filter(F.col("id") == F.col("vid"))
        .select("vid", F.round(cosine_expr(F.col("v"), F.col("v")),
                               6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .join(m.select(F.col("id").alias("ia"), "vid"), "vid")
        .join(m.select(F.col("id").alias("ib"), "vid"), "vid")
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                "cosine")
    )
    return cross.unionByName(within)


def word_ngram_expr(text, n: int):
    """Array of word n-grams (lowercased, whitespace-split) as a pure
    Column expression — stays in whole-stage codegen, no UDF."""
    toks = F.filter(F.split(F.lower(F.trim(text)), r"\s+"),
                    lambda t: t != "")
    count = F.size(toks) - F.lit(n - 1)
    return F.when(
        count >= 1,
        F.transform(F.sequence(F.lit(1), count),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 13) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word ``n``-gram of its ``text`` with the ``text`` of an evaluation set
    (the standard 13-gram rule).

    Returns one row per doc: (doc_id, n_contaminated, contaminated) where
    ``n_contaminated`` counts DISTINCT leaked n-grams.

    100-TB shape: the benchmark n-gram set is dimension-sized (eval
    suites are millions of n-grams) — hashed to 64-bit and BROADCAST, so
    the corpus side is a map-side semi-join over its exploded n-grams
    with no shuffle except the per-doc hit count (keyed by doc id,
    map-side combinable).  Everything stays JVM-side (no UDF)."""
    bench_grams = (
        benchmark.select(
            F.explode(word_ngram_expr(F.col("text"), n)).alias("g"))
        .select(F.xxhash64("g").alias("gh")).distinct()
    )
    # plain explode (no _outer): a doc with zero n-grams contributes no
    # rows — xxhash64(NULL) would otherwise map every gramless doc to one
    # constant hash that a pathological benchmark gram could collide with;
    # the left join below still returns every doc with a zero count
    doc_grams = docs.select(
        "doc_id",
        F.explode(word_ngram_expr(F.col("text"), n)).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_contaminated"))
    )
    return (
        docs.select("doc_id").join(hits, "doc_id", "left")
        .fillna({"n_contaminated": 0})
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )
