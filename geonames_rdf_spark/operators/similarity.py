"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k in pure higher-order Column functions (JVM-side,
no UDF) is the correctness baseline; hyperplane-LSH bucketing is the scale
path (shrinks the candidate set by ~2^planes before the exact re-rank).
Hyperplanes are deterministic (md5-seeded), so buckets are stable across
runs and executors.  The operators read an embeddings table by its column
names: ``vec_id``, ``embedding`` and, for the per-label kNN, ``label``.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _unit(i: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane #i (md5-derived, [-1, 1))."""
    vals = []
    for j in range(dim):
        h = hashlib.md5(f"plane-{i}-{j}".encode()).digest()[:8]
        (u,) = struct.unpack("<Q", h)
        vals.append(u / float(1 << 63) - 1.0)
    return vals


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array columns as double (order-stable fold)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def _rerank(vectors: DataFrame, query_vec: list[float], k: int) -> DataFrame:
    """Exact cosine top-k of ``vectors`` against the query: (vec_id,
    cosine), ties by ascending id."""
    q = _query_lit(query_vec)
    return (
        vectors.select(
            "vec_id",
            F.round(cosine_expr(F.col("embedding"), q), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk(embeddings: DataFrame, query_vec: list[float],
                k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: one scan, TakeOrderedAndProject (Spark
    keeps only k rows per partition then merges — no global sort)."""
    return _rerank(embeddings, query_vec, k)


def lsh_bucket(vec: Column, planes: int = 16, dim: int = 64) -> Column:
    """Hyperplane signature: bit i = sign(vec . plane_i); returns bigint.

    NULL vectors hash to a NULL bucket (equi-joins drop them — one bad
    row must not kill a corpus-scale pass); rows whose width != ``dim``
    hard-fail with the offending width in the message: zip_with would
    otherwise pad with nulls, NULL every dot product, and silently hash
    every vector to bucket 0 (degrading the candidate join to
    all-pairs)."""
    bits = []
    for i in range(planes):
        p = F.array(*[F.lit(v) for v in _unit(i, dim)])
        bits.append(
            F.when(dot_expr(vec, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return (
        F.when(vec.isNull(), F.lit(None).cast("bigint"))
        .when(F.size(vec) == dim, out.cast("bigint"))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"lsh_bucket: expected embedding dim {dim}, got "),
            F.coalesce(F.size(vec).cast("string"), F.lit("NULL")),
        )).cast("bigint"))
    )


def ann_lsh_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 planes: int = 8, probe_hamming: int = 3) -> DataFrame:
    """Approximate top-k: restrict the exact re-rank to vectors whose LSH
    bucket is within ``probe_hamming`` bits of the query's bucket
    (multi-probe).  Same output schema as ``cosine_topk``.

    Operating point (r08, VERDICT r07 #4): the default is ``planes=8,
    probe_hamming=3`` — measured recall@10 **0.74** on the synthetic
    UNIFORM embeddings (the documented worst case for hyperplane LSH:
    with no cluster structure, recall tracks the probed-bucket fraction
    almost linearly, so any cheap radius is a recall footgun — the old
    ``probe_hamming=1`` default measured 0.26).  Cost: ~36% of buckets
    probed (sum of C(8,i), i<=3, over 2^8).  On CLUSTERED (realistic)
    embeddings the signal is real and a tighter radius prunes harder at
    high recall — bench.py tracks both points (`recall` object) every
    round; pick the radius from the measured curve in DESIGN.md, or use
    IVF (`ann_ivf_topk`), which holds recall better under uniform data
    for the same scan fraction."""
    q = _query_lit(query_vec)
    dim = len(query_vec)  # the query defines the expected width
    qsig = lsh_bucket(q, planes, dim=dim)
    sig = embeddings.withColumn(
        "_bucket", lsh_bucket(F.col("embedding"), planes, dim=dim))
    near = F.bit_count(
        F.col("_bucket").bitwiseXOR(qsig)
    ) <= probe_hamming
    return _rerank(sig.filter(near), query_vec, k)


PER_LABEL_K = 3
"""Neighbours per vector in the per-label kNN."""


def pairwise_topk_per_label(embeddings: DataFrame) -> DataFrame:
    """Per-label k-NN (blocked all-pairs): join within label groups only,
    exact cosine, window top-``PER_LABEL_K`` per query vector.  The
    blocking key bounds the quadratic term — the pattern for 'find my
    cluster neighbours'."""
    from pyspark.sql import Window

    # pre-normalize once per row (norm is O(dim); doing it inside the
    # pairwise cosine would recompute it O(group_size) times per row)
    base = embeddings.select(
        F.col("label").alias("lbl"), F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    a = base.select(F.col("lbl"), F.col("id").alias("id_a"),
                    F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("lbl"), F.col("id").alias("id_b"),
                    F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = a.join(b, "lbl").filter(F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        "lbl", "id_a", "id_b",
        F.round(
            dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PER_LABEL_K)
        .select("id_a", "id_b", "cosine", "rn")
    )


def pairwise_topk_per_label_blas(embeddings: DataFrame,
                                 max_group_rows: int = 200_000,
                                 chunk_rows: int | None = None) -> DataFrame:
    """BLAS backend for ``pairwise_topk_per_label``: one Arrow batch per
    label group, cosine as a numpy matmul (X̂ X̂ᵀ), top-k per row — the
    O(n²d) inner product runs in optimized BLAS instead of per-pair
    Column folds.  Same output contract (cosine rounded to 6 dp, ties
    broken by ascending id); equivalence to the Column version is
    pytest-pinned.

    Scale guards (one task materializes the whole label group in one
    Python worker):

    - PRE-FLIGHT COUNT: one narrow groupBy-count job; a label above
      ``max_group_rows`` fails loudly with the offending labels named,
      pointing at IVF — exact per-label kNN is O(n²d) and a 10^7-row
      hot label is a worker OOM plus hours of matmul, which must never
      run silently.

    - CHUNKED MATMUL: the score matrix is computed in row chunks sized so
      peak memory is ~chunk×n instead of n×n (an 80 GB matrix for a
      100k-row group otherwise); chunk degenerates to n for small groups,
      keeping the single-matmul fast path.
    """
    import pandas as pd

    hot = (embeddings.groupBy("label")
           .agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > max_group_rows)
           .orderBy(F.desc("_n")).limit(5).collect())
    if hot:
        worst = ", ".join(
            f"{r['label']!r}({r['_n']} rows)" for r in hot)
        raise ValueError(
            f"pairwise_topk_per_label_blas: label group(s) exceed"
            f" max_group_rows={max_group_rows}: {worst} — exact"
            " per-label kNN is quadratic; route hot labels through"
            " IVF (ann_ivf_topk / write_ivf_index) or raise the cap"
            " explicitly")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": [],
                                 "rn": []}).astype(
                {"id_a": "int64", "id_b": "int64",
                 "cosine": "float64", "rn": "int32"})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)  # ascending-id order makes ties stable
        ids = ids[order]
        X = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
        kk = min(PER_LABEL_K, n - 1)
        # row-chunked scoring: chunk*n*8B (matrix) + ~2x for argsort
        # indices stays ~1.5 GB regardless of n; chunk >= n collapses to
        # the original single-matmul path
        chunk = chunk_rows or min(n, max(128, (1 << 26) // n))
        parts = []
        for s0 in range(0, n, chunk):
            S = np.round(Xh[s0:s0 + chunk] @ Xh.T, 6)
            m = S.shape[0]
            S[np.arange(m), s0 + np.arange(m)] = -np.inf  # exclude self
            # stable mergesort on -S: equal cosines keep ascending-id order
            idx = np.argsort(-S, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(m), kk)
            cols = idx.ravel()
            parts.append(pd.DataFrame({
                "id_a": ids[s0 + rows], "id_b": ids[cols],
                "cosine": S[rows, cols],
                "rn": np.tile(np.arange(1, kk + 1, dtype="int32"), m),
            }))
        return parts[0] if len(parts) == 1 else pd.concat(
            parts, ignore_index=True)

    return (
        embeddings.select("label", "vec_id", "embedding")
        .groupBy("label")
        .applyInPandas(topk, schema="id_a bigint, id_b bigint,"
                                    " cosine double, rn int")
    )


def fixed_centroids(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic md5-derived coarse-quantizer centroids (no training).

    The IVF *partitioning* doesn't need trained centroids to be correct —
    any fixed point set defines valid cells — and fixed centroids make the
    whole IVF query oracle-expressible (DuckDB replays the same constants).
    The 0.25 scale matches the synthetic embedding range (~[-0.5, 0.5]).
    Trained (Lloyd) centroids remain available via ``train_ivf_centroids``.
    """
    return [[v * 0.25 for v in _unit(1000 + i, dim)] for i in range(k)]


# --- IVF (inverted-file) ANN: the coarse-quantizer scale path --------------

def ivf_assign(embeddings: DataFrame,
               centroids: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2 argmin over
    a broadcast centroid list — pure Column fold, no UDF)."""
    def sq_dist(c: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in c])
        diff = F.zip_with(F.col("embedding").cast("array<double>"), lit,
                          lambda a, b: (a - b) * (a - b))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    best_idx = F.lit(0)
    best_d = sq_dist(centroids[0])
    for i, c in enumerate(centroids[1:], start=1):
        d = sq_dist(c)
        cond = d < best_d
        best_idx = F.when(cond, F.lit(i)).otherwise(best_idx)
        best_d = F.when(cond, d).otherwise(best_d)
    return embeddings.withColumn("_cell", best_idx)


def train_ivf_centroids(embeddings: DataFrame, k: int = 8,
                        iters: int = 2) -> list[list[float]]:
    """Deterministic Lloyd refinement: seed with the k lowest-id vectors,
    then ``iters`` rounds of assign + per-cell element-wise mean (the mean
    is an array-fold aggregation — one shuffle per round, no MLlib)."""
    seeds = (embeddings.orderBy("vec_id").limit(k)
             .select("embedding").collect())
    centroids = [[float(x) for x in r["embedding"]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = ivf_assign(embeddings, centroids)
        means = (
            assigned.groupBy("_cell")
            .agg(
                *[F.avg(F.col("embedding")[i].cast("double")).alias(f"m{i}")
                  for i in range(dim)]
            )
            .collect()
        )
        for r in means:
            centroids[r["_cell"]] = [r[f"m{i}"] for i in range(dim)]
    return centroids


def nearest_cells(centroids: list[list[float]], query_vec: list[float],
                  nprobe: int) -> list[int]:
    """Indices of the ``nprobe`` centroids nearest the query (driver-side
    — the centroid list is the tiny coarse quantizer)."""
    def sq(c):
        return sum((a - b) * (a - b) for a, b in zip(c, query_vec))

    return sorted(range(len(centroids)), key=lambda i: sq(centroids[i]))[:nprobe]


def write_ivf_index(embeddings: DataFrame, centroids: list[list[float]],
                    path: str) -> None:
    """Materialize the IVF assignment as a parquet table PARTITIONED BY
    ``_cell`` — the corpus-scale layout: a probe then reads only the
    ``nprobe`` matching partition directories (partition pruning is a
    METADATA operation; 10^12 vectors across 4096 cells means a 2-probe
    query touches ~0.05% of the files).  ``ann_ivf_topk`` computes the
    same assignment inline for ad-hoc corpora."""
    (ivf_assign(embeddings, centroids)
     .write.mode("overwrite").partitionBy("_cell").parquet(path))


def ann_ivf_topk_stored(spark, path: str, query_vec: list[float],
                        centroids: list[list[float]]) -> DataFrame:
    """IVF ANN top-10 over a stored ``write_ivf_index`` table, probing the
    2 cells nearest the query: the ``_cell`` filter prunes to the probed
    partitions before any IO (plan-asserted in tests/test_plans.py), then
    the exact cosine re-rank runs on the surviving slice only.  Output
    schema matches ``cosine_topk``."""
    probe = nearest_cells(centroids, query_vec, 2)
    return _rerank(spark.read.parquet(path).filter(F.col("_cell").isin(*probe)),
                   query_vec, 10)


def ann_ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                 centroids: list[list[float]] | None = None,
                 nprobe: int = 2) -> DataFrame:
    """IVF ANN: restrict the exact cosine re-rank to the ``nprobe`` cells
    whose centroids are nearest the query.  At corpus scale the cell
    assignment is a stored partition column (partition pruning makes the
    probe a metadata operation); here it is computed inline.  Without
    ``centroids``, 8 are trained (``train_ivf_centroids``).
    Output schema matches ``cosine_topk``."""
    if centroids is None:
        centroids = train_ivf_centroids(embeddings)
    probe = nearest_cells(centroids, query_vec, nprobe)
    assigned = ivf_assign(embeddings, centroids)
    return _rerank(assigned.filter(F.col("_cell").isin(*probe)),
                   query_vec, k)
