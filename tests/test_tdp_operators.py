"""Training-data-pipeline operators: dedup, similarity, text."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from geonames_rdf_spark.operators import dedup, similarity, textstats
from tests.conftest import SF, assert_df_parity


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_finds_injected_dups(docs):
    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    out = dedup.exact_dedup(docs.unionByName(dups))
    n_orig = docs.count()
    clusters = out.filter("n_dups > 1")
    assert out.count() == n_orig  # one row per distinct text
    assert clusters.count() == docs.filter("doc_id % 5 = 0").count()
    # survivor is always the original (min id)
    assert clusters.filter("keep_id >= 10000").count() == 0


def test_minhash_lsh_near_dups(docs):
    sample = docs.limit(40)
    near = sample.withColumn("doc_id", F.col("doc_id") + 10000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tiny suffix change"))
    )
    out = dedup.minhash_near_dups(sample.unionByName(near), threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    found = sum(1 for r in sample.collect() if (r["doc_id"], r["doc_id"] + 10000) in pairs)
    assert found >= 36  # high recall on the injected near-dups
    est = dict(((r["id_a"], r["id_b"]), r["est_jaccard"]) for r in out.collect())
    assert all(0.0 <= v <= 1.0 for v in est.values())


def test_minhash_deterministic(docs):
    s = docs.limit(20)
    a = dedup.minhash_signatures(s).collect()
    b = dedup.minhash_signatures(s).collect()
    assert {r["id"]: r["sig"] for r in a} == {r["id"]: r["sig"] for r in b}


def _md5_64(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8],
                          "little")


def _edge_docs(spark, docs):
    """Real documents around the edge cases of the chunked signature
    kernels: empty, NULL, whitespace-only and short texts, repeated
    shingles, documents sharing shingles, and one document that alone
    holds more items than a chunk, placed after others so that it
    crosses the chunk bound."""
    big = " ".join(f"t{i}" for i in range(dedup.CHUNK_ITEMS + 60))
    rows = [(int(r["doc_id"]), r["text"])
            for r in docs.orderBy("doc_id").limit(40).collect()]
    rows[5:5] = [(900001, ""), (900002, None), (900003, "a b"),
                 (900004, " \t "), (900005, "x x x x x x y x x x"),
                 (900006, "p q r s t"), (900007, "q r s t u"),
                 (900008, "p q r s t"), (900009, big),
                 (900010, big + " tail"), (900011, "lonely")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _per_batch_sizes(spark, run):
    """``run()`` under the default Arrow batch size and under batches of 7
    rows, which cut the edge documents into separate batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        out = [run()]
        spark.conf.set(key, "7")
        out.append(run())
    finally:
        spark.conf.set(key, old)
    return out


def test_minhash_signatures_match_per_document_reference(spark, docs):
    """Every signature equals the per-document definition: md5 of each
    distinct word 3-shingle mod p (x = 0 for a document without
    shingles), the 64-function (a*x + b) mod p family, and the minimum
    per function."""
    p = dedup.MERSENNE
    fam = [(1 | _md5_64(f"minhash-a-{i}") % p, _md5_64(f"minhash-b-{i}") % p)
           for i in range(64)]

    def reference(text):
        toks = (text or "").split()
        if len(toks) < 3:
            sh = {" ".join(toks)} if toks else set()
        else:
            sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        xs = [_md5_64(s) % p for s in sh] or [0]
        return [min((a * x + b) % p for x in xs) for a, b in fam]

    d = _edge_docs(spark, docs)
    want = {r["doc_id"]: reference(r["text"]) for r in d.collect()}
    for got in _per_batch_sizes(spark, lambda: {
            r["id"]: list(r["sig"])
            for r in dedup.minhash_signatures(d).collect()}):
        assert got == want
    assert want[900006] == want[900008] != want[900007]


def test_simhash_signatures_match_per_document_reference(spark, docs):
    """Every simhash equals the per-document definition: per bit, +1 for
    each token INSTANCE whose md5 has the bit set and -1 otherwise; the
    bit is set where the sum is positive (0 for a document without
    tokens); stored as signed 64-bit."""

    def reference(text):
        hs = [_md5_64(t) for t in (text or "").split()]
        v = sum(1 << b for b in range(64)
                if sum(1 if h >> b & 1 else -1 for h in hs) > 0)
        return v - (1 << 64) if v >= 1 << 63 else v

    d = _edge_docs(spark, docs)
    want = {r["doc_id"]: reference(r["text"]) for r in d.collect()}
    for got in _per_batch_sizes(spark, lambda: {
            r["id"]: r["simhash"]
            for r in dedup.simhash_signatures(d).collect()}):
        assert got == want
    # token multiplicity counts: nine "x" outweigh one "y"
    assert want[900005] == reference("x") != reference("x y")


def test_simhash_near_dups(docs):
    sample = docs.limit(40)
    near = sample.withColumn("doc_id", F.col("doc_id") + 10000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" x"))
    )
    out = dedup.simhash_near_dups(sample.unionByName(near), max_hamming=6)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    found = sum(1 for r in sample.collect() if (r["doc_id"], r["doc_id"] + 10000) in pairs)
    assert found >= 30


def test_lsh_bucket_guard_bounds_pathological_bucket(spark):
    """400 near-identical docs put ALL rows in every band bucket (the
    boilerplate-cluster pathology).  The guard bounds the candidate join:
    it salts the mega-bucket into ~max_bucket-sized groups, and the
    observation records what was degraded."""
    from pyspark.sql import Observation

    d = spark.createDataFrame(
        [(i, "the same boilerplate text repeated here") for i in range(400)],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(d).localCheckpoint()
    obs = Observation("lsh_guard_test")
    n_split = dedup.lsh_candidate_pairs(
        sigs, max_bucket=50, guard_observation=obs).count()
    # unguarded would emit 400*399/2 = 79800 pairs; 8 salt groups of ~50
    # leave ~8 * C(50,2) = 9800
    assert 0 < n_split < 20000
    assert obs.get["oversized_rows"] > 0
    assert obs.get["total_rows"] == 400 * 16  # 16 bands


def test_guard_telemetry_lands_in_lineage_metrics(spark, tmp_path):
    """VERDICT r05 #4 end to end: a flood run's guard observation is
    PERSISTED to the run's stage metrics table, so silent recall degradation
    (salted mega-buckets) is visible in production output, not
    just in a transient Observation object."""
    from pyspark.sql import Observation

    from geonames_rdf_spark.pipeline import lineage

    d = spark.createDataFrame(
        [(i, "the same boilerplate text repeated here") for i in range(400)],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(d).localCheckpoint()
    obs = Observation("guard_metrics_test")
    dedup.lsh_candidate_pairs(
        sigs, max_bucket=50, guard_observation=obs).count()
    out = str(tmp_path / "run")
    got = obs.get
    lineage.write_stage_counters(spark, out, "minhash_lsh", got)
    assert got["oversized_rows"] > 0

    def stored():
        return [r for r in lineage.read_stage_counters(spark, out).collect()
                if r["stage"] == "minhash_lsh"]

    rows = {r["metric"]: r["value"] for r in stored()}
    assert rows["oversized_rows"] == got["oversized_rows"]
    assert rows["total_rows"] == 400 * 16
    # idempotent per-stage overwrite (re-run converges: one row per metric)
    lineage.write_stage_counters(spark, out, "minhash_lsh", got)
    assert sorted(r["metric"] for r in stored()) == [
        "oversized_rows", "total_rows"]


def test_simhash_blocking_stays_linear_on_hot_chunk(spark):
    """The adversarial corpus for the OLD one-chunk blocking key: 2000
    distinct simhash values all sharing their low 16 bits.  A 16-bit
    single-chunk key would put every value in ONE bucket (~2M candidate
    pairs); the Manku combinatorial key (3-of-6 chunks, ~32 bits) needs
    two MORE random chunks to agree, so candidates stay ~linear."""
    n = 2000
    vals = []
    seen = set()
    for i in range(n):
        hi = dedup._h64(f"simhash-lin-{i}") >> 16  # random 48 high bits
        v = (hi << 16) | 0x1234
        if v >= 1 << 63:
            v -= 1 << 64
        if v not in seen:
            seen.add(v)
            vals.append((v,))
    values = spark.createDataFrame(vals, "simhash bigint")
    cand = dedup.simhash_candidate_values(values, max_hamming=3)
    n_cand = cand.count()
    assert n_cand < len(vals)  # vs ~n^2/2 for the one-chunk key
    # completeness sanity on the same table: a value at hamming <= 3 from
    # an existing one must be found
    probe_base = vals[0][0]
    probe = probe_base ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)
    with_probe = values.unionByName(
        spark.createDataFrame([(probe,)], "simhash bigint"))
    found = (
        dedup.simhash_candidate_values(with_probe, max_hamming=3)
        .filter((F.col("sh_a").isin(probe_base, probe))
                & (F.col("sh_b").isin(probe_base, probe)))
        .count()
    )
    assert found == 1


def test_simhash_exact_collapse_pairs(spark):
    """Literal duplicates: candidate generation sees ONE distinct value,
    yet the expanded output still reports every duplicate pair."""
    d = spark.createDataFrame(
        [(i, "same text here") for i in range(5)]
        + [(10, "totally different words entirely")],
        ["doc_id", "text"],
    )
    out = dedup.simhash_near_dups(d, max_hamming=3)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    expected = {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert set(pairs) >= expected
    assert all(pairs[p] == 0 for p in expected)


def test_ngram_jaccard_verification(spark):
    d = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "q r s t u v w z")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard(d, pairs, k=2).collect()}
    assert out[(1, 2)] > 0.7      # one token changed
    assert out[(1, 3)] == 0.0     # disjoint


def test_cosine_topk_self_first(emb):
    q = emb.filter("vec_id = 7").first()["embedding"]
    top = similarity.cosine_topk(emb, [float(x) for x in q], k=5).collect()
    assert top[0]["vec_id"] == 7 and abs(top[0]["cosine"] - 1.0) < 1e-5
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)


def test_ann_lsh_recall(emb):
    q = [float(x) for x in emb.filter("vec_id = 3").first()["embedding"]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()}
    approx = {r["vec_id"]
              for r in similarity.ann_lsh_topk(emb, q, k=5, planes=8,
                                               probe_hamming=3).collect()}
    assert 3 in approx  # the query vector itself always survives bucketing
    # random 64-d vectors are near-orthogonal (cosine~0.3 => expected
    # hamming ~3.2/8 planes), so demand only partial recall here; the
    # exact-copy case (test_embedding_near_dup_exact_copies) pins recall=1
    assert len(exact & approx) >= 1


def test_ann_recall_monotone_and_full_probe_exact(emb):
    """Recall@10 vs brute force is MONOTONE in the probe width for both
    ANN families (the probed candidate set nests as nprobe/probe_hamming
    grow), and a full probe (all cells / all buckets) is EXACTLY the
    brute-force result — the two ends every deployment tunes between.
    The interior recall/cost trade-off is recorded by
    scripts/ann_recall.py in BENCH.md."""
    q = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()]

    cents = similarity.fixed_centroids(8, len(q))
    ivf = []
    for nprobe in (1, 2, 4, 8):
        got = {r["vec_id"] for r in similarity.ann_ivf_topk(
            emb, q, k=10, centroids=cents, nprobe=nprobe).collect()}
        ivf.append(len(got & set(exact)) / len(exact))
    assert ivf == sorted(ivf), ivf
    assert ivf[-1] == 1.0  # nprobe == n_cells => exhaustive

    lsh = []
    for ph in (0, 2, 4, 8):
        got = {r["vec_id"] for r in similarity.ann_lsh_topk(
            emb, q, k=10, planes=8, probe_hamming=ph).collect()}
        lsh.append(len(got & set(exact)) / len(exact))
    assert lsh == sorted(lsh), lsh
    assert lsh[-1] == 1.0  # probe_hamming == planes => exhaustive


def test_embedding_near_dup_exact_copies(emb):
    copy = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    out = dedup.embedding_near_dups(emb.unionByName(copy), threshold=0.999)
    n = emb.count()
    hits = out.filter(F.col("id_b") == F.col("id_a") + 100000)
    assert hits.count() == n  # every copy found in the same LSH bucket


def test_quality_and_langid(docs, duck):
    q = textstats.quality_features(docs)
    row = q.first()
    assert row["n_tokens"] > 0 and 0 <= row["punct_ratio"] <= 1
    lid = textstats.lang_id(docs)
    assert lid.filter(F.col("lang_pred") == "en").count() > 0
    score = textstats.quality_score(docs)
    assert score.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_ivf_ann(emb):
    centroids = similarity.train_ivf_centroids(emb, k=8, iters=2)
    assert len(centroids) == 8 and len(centroids[0]) == 64
    q = [float(x) for x in emb.filter("vec_id = 11").first()["embedding"]]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, q, k=5).collect()]
    approx = {r["vec_id"]
              for r in similarity.ann_ivf_topk(emb, q, k=5, centroids=centroids,
                                               nprobe=3).collect()}
    assert 11 in approx                 # the query's own cell is probed
    assert len(set(exact) & approx) >= 1
    # determinism: same centroids, same result
    again = {r["vec_id"]
             for r in similarity.ann_ivf_topk(emb, q, k=5, centroids=centroids,
                                              nprobe=3).collect()}
    assert approx == again


def test_bpe_token_count_semantics(spark):
    from geonames_rdf_spark.operators.textstats import bpe_token_count

    d = spark.createDataFrame(
        [(1, "Hello world"), (2, "it's 2024, really!"), (3, ""), (4, None)],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n"] for r in
           d.select("doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    # "Hello"," world" -> 2; "it","'s"," 2024",","," really","!" -> 6
    assert got[1] == 2
    assert got[2] == 6
    assert got[3] == 0 and got[4] == 0


def test_rolling_fingerprint_append_robust(spark):
    """The k-gram min-hash survives appends/prepends that whole-doc md5
    does not (the minimizing window is usually interior)."""
    from geonames_rdf_spark.operators import textstats

    base = "the quick brown fox jumps over the lazy dog " * 4
    d = spark.createDataFrame(
        [(1, base), (2, base + " APPENDED TAIL"), (3, "zzz " + base)],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fingerprint"]
          for r in textstats.rolling_fingerprint(d).collect()}
    md = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(d).collect()}
    assert fp[1] == fp[2]          # append does not move the min window
    assert md[1] != md[2]          # ...but changes the whole-doc hash
    assert len(fp[1]) == 32


def test_simhash_max_hamming_zero(docs):
    """h=0 (identical-simhash radius): single 64-bit chunk must not
    overflow the long literal."""
    s = docs.limit(10)
    dup = s.withColumn("doc_id", F.col("doc_id") + 5000)
    out = dedup.simhash_near_dups(s.unionByName(dup), max_hamming=0)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert all((d, d + 5000) in pairs for d in
               [r["doc_id"] for r in s.collect()])


def test_lsh_bucket_null_row_skipped(spark):
    """A NULL embedding must not kill the job — it hashes to a NULL
    bucket and drops out of the candidate equi-join."""
    from geonames_rdf_spark.operators import dedup as dd

    rows = [(1, [1.0] * 8), (2, [1.0] * 8), (3, None)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = dd.embedding_near_dups(e, threshold=0.9, planes=4, dim=8)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2)}


def test_lsh_bucket_wrong_width_fails_loudly(spark):
    import pytest as _pt

    from geonames_rdf_spark.operators.similarity import lsh_bucket

    e = spark.createDataFrame([(1, [1.0] * 5)],
                              "vec_id bigint, embedding array<double>")
    bad = e.select(lsh_bucket(F.col("embedding"), planes=4, dim=8))
    with _pt.raises(Exception, match="expected embedding dim 8, got 5"):
        bad.collect()


def test_lsh_candidate_pairs_width_guard(spark):
    import pytest as _pt

    sigs = spark.createDataFrame([(1, [1, 2, 3, 4])],
                                 "id bigint, sig array<bigint>")
    with _pt.raises(Exception, match="expected 64-hash signatures"):
        dedup.lsh_candidate_pairs(sigs, bands=16).collect()


def test_sample_stratified_deterministic_and_rate_correct(docs, spark):
    from geonames_rdf_spark.operators import sampling

    rates = {"src0": 0.0, "src1": 1.0}
    out = sampling.sample_stratified(docs, rates, default_rate=0.5)
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in out.collect()}
    assert a == b  # hash-deterministic, no RNG state
    by_src = {r["source"]: r["doc_id"] for r in docs.collect()}  # noqa: F841
    kept_src0 = out.filter("source = 'src0'").count()
    kept_src1 = out.filter("source = 'src1'").count()
    n_src1 = docs.filter("source = 'src1'").count()
    assert kept_src0 == 0 and kept_src1 == n_src1
    # default-rate strata keep roughly half (binomial, wide tolerance)
    others = docs.filter("source NOT IN ('src0','src1')").count()
    kept_others = out.filter("source NOT IN ('src0','src1')").count()
    assert 0.3 * others < kept_others < 0.7 * others
    # growth-stability: adding rows never flips existing decisions
    bigger = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 500000))
    out2 = {r["doc_id"] for r in
            sampling.sample_stratified(bigger, rates, default_rate=0.5)
            .collect()}
    assert a == {i for i in out2 if i < 500000}


def test_corpus_composition_mass_conservation(docs):
    comp = textstats.corpus_composition(docs).collect()
    n = docs.count()
    assert sum(r["n_docs"] for r in comp) == n
    tok_total = (textstats.quality_features(docs)
                 .agg(F.sum("n_tokens")).first()[0])
    assert sum(r["total_tokens"] for r in comp) == tok_total
    for r in comp:
        expect = round(r["quality_micro_sum"] / (r["n_docs"] * 1e6), 6)
        assert abs(r["mean_quality"] - expect) < 1e-9


def test_lang_stopword_ratio_scores_own_language(spark):
    d = spark.createDataFrame(
        [(1, "der Hund und die Katze und der Vogel", "de"),
         (2, "der Hund und die Katze und der Vogel", "en"),
         (3, "some words entirely without markers", "zh")],
        ["doc_id", "text", "lang"],
    )
    out = {r["doc_id"]: r for r in
           textstats.lang_stopword_ratio(d).collect()}
    assert out[1]["marker_hits"] > 0          # German text, German markers
    assert out[2]["marker_hits"] == 0         # same text scored as English
    assert out[3]["marker_hits"] == 0 and out[3]["stopword_ratio"] == 0.0


def test_knn_blas_backend_equivalence(emb):
    """The BLAS applyInPandas backend must produce EXACTLY the Column
    version's output (same rounding, same tie order)."""
    a = {(r["id_a"], r["rn"]): (r["id_b"], r["cosine"])
         for r in similarity.pairwise_topk_per_label(emb).collect()}
    b = {(r["id_a"], r["rn"]): (r["id_b"], r["cosine"])
         for r in similarity.pairwise_topk_per_label_blas(emb).collect()}
    assert a == b


def test_knn_blas_hot_label_guard_raises(emb):
    """A label group above max_group_rows must FAIL LOUDLY naming the
    label (one worker would otherwise materialize an n×n cosine matrix)
    instead of silently attempting the quadratic job."""
    with pytest.raises(ValueError, match="max_group_rows"):
        similarity.pairwise_topk_per_label_blas(emb, max_group_rows=10)


def test_knn_blas_chunked_path_equivalence(emb):
    """The chunked matmul (big-group memory bound: chunk×n not n×n) must
    produce byte-identical output to the single-matmul path, including
    self-exclusion at chunk boundaries and tie order."""
    one = {(r["id_a"], r["rn"]): (r["id_b"], r["cosine"])
           for r in similarity.pairwise_topk_per_label_blas(
               emb).collect()}
    chunked = {(r["id_a"], r["rn"]): (r["id_b"], r["cosine"])
               for r in similarity.pairwise_topk_per_label_blas(
                   emb, chunk_rows=7).collect()}
    assert one == chunked


def test_simhash_block_defaults_and_combo_cap(spark):
    """Default n_blocks stays sane at any radius; an explicit explosive
    configuration raises instead of silently emitting thousands of keys."""
    vals = spark.createDataFrame([(i,) for i in range(10)], "simhash bigint")
    dedup.simhash_candidate_values(vals, max_hamming=15).count()  # no raise
    with pytest.raises(ValueError, match="keys per value"):
        dedup.simhash_candidate_values(vals, max_hamming=3, n_blocks=30)


def test_char_lm_perplexity_separates_gibberish(docs, spark):
    """A char-LM trained on the corpus must score in-domain text lower-
    perplexity than gibberish; short/empty docs score NULL (unmeasurable),
    not 0; scoring is deterministic."""
    lm = textstats.train_char_lm(docs, n=3, top_k=20000)
    sample_text = docs.first()["text"]
    probe = spark.createDataFrame(
        [(1, sample_text), (2, "zq xv jk wq zx qz kj vx zzq xqv"),
         (3, "ab"), (4, None)],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           textstats.lm_perplexity(probe, lm).collect()}
    assert out[1]["ppl"] < out[2]["ppl"]  # in-domain beats gibberish
    assert out[3]["ppl"] is None and out[4]["ppl"] is None
    again = {r["doc_id"]: r["ppl"] for r in
             textstats.lm_perplexity(probe, lm).collect()}
    assert again == {k: v["ppl"] for k, v in out.items()}


def test_decontaminate_flags_benchmark_overlap(spark):
    """Docs sharing a full n-gram with the eval set are flagged with the
    leaked-gram count; (n-1)-token overlap is NOT contamination; short
    and empty docs come back clean, not dropped."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "quick brown fox something entirely different here now"),
         (3, "totally unrelated text with no overlap at all"),
         (4, "tiny"), (5, "")],
        "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(100, "we ask about the quick brown fox jumps in question one")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           dedup.decontaminate(docs, bench, n=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated"] == 1
    # doc 2 shares only the 3-gram 'quick brown fox' < n=5 => clean
    assert not out[2]["contaminated"]
    assert not out[3]["contaminated"]
    assert not out[4]["contaminated"] and not out[5]["contaminated"]
    assert set(out) == {1, 2, 3, 4, 5}  # every doc present
    # case-insensitive match
    up = docs.withColumn("text", F.upper("text"))
    out_up = {r["doc_id"]: r["contaminated"] for r in
              dedup.decontaminate(up, bench, n=5).collect()}
    assert out_up[1]


def test_curate_corpus_composite(docs):
    from geonames_rdf_spark.operators import curate

    dups = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000)
    out = curate.curate_corpus(docs.unionByName(dups), min_quality=0.4)
    rows = out.collect()
    assert rows and all(r["quality"] >= 0.4 for r in rows)
    # dedup stage kept only original-id survivors
    assert all(r["doc_id"] < 10000 for r in rows)
    # rate-0 stratum drops out entirely when sampling is on
    from geonames_rdf_spark.operators import sampling
    sampled = curate.curate_corpus(
        docs, min_quality=0.0, rates=sampling.DEMO_RATES,
        default_rate=sampling.DEMO_DEFAULT_RATE)
    assert sampled.filter("source = 'src2'").count() == 0


def test_oov_rate_semantics(spark):
    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b z"), (3, ""), (4, None)],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in textstats.oov_rate(d, top_k=2).collect()}
    # vocab = top-2 = {a, b}; 'z' is OOV
    assert out[1]["n_oov"] == 0 and out[1]["oov_rate"] == 0.0
    assert out[2]["n_tokens"] == 3 and out[2]["n_oov"] == 1
    assert out[2]["oov_rate"] == 0.3333
    # empty/NULL docs present with zeros (not dropped)
    assert out[3]["n_tokens"] == 0 and out[3]["oov_rate"] == 0.0
    assert out[4]["n_tokens"] == 0 and out[4]["oov_rate"] == 0.0


def test_repetition_stats_gopher_signals(spark):
    """Repeated-line boilerplate, looping bigrams, and clean text separate
    on the Gopher repetition signals; empty docs score 0.0 (clean)."""
    docs = spark.createDataFrame(
        [(1, "buy now\nbuy now\nbuy now\nbuy now"),
         (2, "the cat the cat the cat the cat the cat"),
         (3, "a perfectly normal sentence with distinct words only"),
         (4, "")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           textstats.repetition_stats(docs).collect()}
    assert out[1]["dup_line_frac"] == 0.75          # 4 lines, 1 distinct
    assert out[1]["top_bigram_share"] > 0.4
    assert out[2]["top_bigram_share"] > 0.4         # 'the cat' loops
    assert out[2]["dup_word_frac"] > 0.7
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top_bigram_share"] < 0.2
    assert out[4]["dup_line_frac"] == 0.0
    assert out[4]["top_bigram_share"] == 0.0


def test_curate_corpus_full_gate_stack(docs, spark):
    """All four r04 gates composed in one lazy plan: decontamination,
    repetition caps, and the LM perplexity cap each strictly narrow the
    baseline curated set, and the default call is unchanged."""
    from geonames_rdf_spark.operators import curate

    base = curate.curate_corpus(docs, min_quality=0.0)
    n_base = base.count()
    assert n_base > 0

    # benchmark = one real doc's text => at least that doc is removed
    bench = docs.limit(1).select("doc_id", "text")
    decon = curate.curate_corpus(docs, min_quality=0.0,
                                 decontam_benchmark=bench,
                                 decontam_ngram=5)
    assert 0 < decon.count() < n_base

    lm = textstats.train_char_lm(docs, n=3, top_k=20000)
    gated = curate.curate_corpus(
        docs, min_quality=0.0, decontam_benchmark=bench, decontam_ngram=5,
        max_dup_line_frac=0.9, max_top_bigram_share=0.9,
        lm=lm, max_ppl=1e6)
    # permissive caps: same as decon-only (wiring exercised, nothing
    # spuriously dropped)
    assert gated.count() == decon.count()

    with pytest.raises(ValueError, match="trained lm"):
        curate.curate_corpus(docs, max_ppl=10.0)


def test_pack_sequences_budget_and_coverage(docs, spark):
    """Every doc lands in exactly one pack; no pack exceeds the token
    budget unless it holds a single oversized doc (flagged); packing is
    deterministic and independent of input partitioning."""
    from geonames_rdf_spark.operators import packing

    seq_len = 256
    packed = packing.pack_sequences(docs, seq_len=seq_len, n_buckets=8)
    assert packed.count() == docs.count()  # exactly-once coverage
    assert packed.select("doc_id").distinct().count() == docs.count()

    stats = packing.pack_stats(packed, seq_len=seq_len).collect()
    for r in stats:
        if not r["has_oversized"]:
            assert r["total_tokens"] <= seq_len, r
        else:
            assert r["n_docs"] == 1  # oversized docs pack alone
    # efficiency sanity: mean fill of non-oversized multi-doc packs > 50%
    fills = [r["fill"] for r in stats if not r["has_oversized"]]
    assert sum(fills) / len(fills) > 0.5

    # determinism under different input partitioning
    again = packing.pack_sequences(docs.repartition(13), seq_len=seq_len,
                                   n_buckets=8)
    a = {r["doc_id"]: r["pack_id"] for r in packed.collect()}
    b = {r["doc_id"]: r["pack_id"] for r in again.collect()}
    assert a == b

    # oversized flagging: one giant doc
    giant = spark.createDataFrame(
        [(1, "w " * 500), (2, "small doc"), (3, "another small doc")],
        "doc_id bigint, text string")
    g = packing.pack_sequences(giant, seq_len=64, n_buckets=2)
    rows = {r["doc_id"]: r for r in g.collect()}
    assert rows[1]["oversized"]
    assert not rows[2]["oversized"] and not rows[3]["oversized"]


def test_operators_survive_pathological_corpus(spark):
    """NULL text, empty text, whitespace-only, NULL source/lang, unicode,
    and a 5k-char single token must not crash ANY curation operator, and
    per-doc operators must keep one row per doc (a corpus-scale pass
    cannot die, or silently drop rows, on one bad record)."""
    from geonames_rdf_spark.operators import curate, packing, sampling

    d = spark.createDataFrame(
        [(1, None, "src1", "en"), (2, "", "src1", "de"),
         (3, "   \n\t  ", None, None), (4, "ünïcødé tæxt 漢字 here", "src2", "zh"),
         (5, "x" * 5000, "src1", "en"), (6, "normal text here", "src1", "en")],
        "doc_id bigint, text string, source string, lang string")
    n = d.count()
    per_doc = [
        textstats.quality_features(d), textstats.quality_score(d),
        textstats.lang_id(d), textstats.fingerprint(d),
        textstats.rolling_fingerprint(d), textstats.lang_stopword_ratio(d),
        textstats.oov_rate(d, top_k=3), textstats.repetition_stats(d),
        textstats.lm_perplexity(d, textstats.train_char_lm(d)),
        packing.pack_sequences(d, seq_len=16),
        dedup.decontaminate(d, d.limit(1), n=3),
    ]
    for out in per_doc:
        assert out.count() == n, out.columns
    # corpus-level ops just must not crash
    assert dedup.exact_dedup(d).count() > 0
    dedup.minhash_near_dups(d, threshold=0.5).count()
    dedup.simhash_near_dups(d, max_hamming=3).count()
    sampling.sample_stratified(d, {"src1": 0.5}, default_rate=1.0).count()
    curate.curate_corpus(d, min_quality=0.0).count()


def test_redact_pii_duck_parity(spark, duck):
    """redact_pii == the RE2 twin (same literal patterns, privacy.py
    keeps both sides in one file) on adversarial planted rows AND on
    the real documents table (PII-free: counts all 0, text unchanged
    modulo redaction no-ops)."""
    import pandas as pd

    from geonames_rdf_spark.operators import privacy
    from tests.conftest import assert_df_parity

    rows = [
        (0, "contact bob.smith+x@mail.example.org or ops@sub.ex.io now"),
        (1, "server 10.1.2.3 and 255.255.255.255 rebooted"),
        (2, "call +1 415-555-0199 or 089 123 456 789 today"),
        (3, "ssn 123-45-6789 inside text 999-11-2222."),
        (4, "mixed a@b.co at 192.168.0.1 phone 0151 2345 6789 ssn 321-54-9876"),
        (5, None),
        (6, ""),
        (7, "no pii here, just words and numbers like 42 and 7."),
        (8, "tricky not-an-ip 1.2.3 and half-email @example.com"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = spark.createDataFrame(pdf)
    duck.register("pii_fixture", pdf)
    got = privacy.redact_pii(d)
    want = duck.execute(
        privacy.pii_oracle_sql(table="pii_fixture")).df()
    assert_df_parity(got, want)
    # planted rows actually exercise every kind
    tot = {r["doc_id"]: r["n_pii"] for r in got.collect()}
    assert tot[0] == 2 and tot[3] == 2 and tot[4] == 4 and tot[7] == 0

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got2 = privacy.redact_pii(docs).agg(
        F.sum("n_pii").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("rows"))
    want2 = duck.execute(
        "SELECT sum(n_pii)::BIGINT AS total, count(*) AS rows FROM ("
        + privacy.pii_oracle_sql(table="documents") + ")").df()
    assert_df_parity(got2, want2)


def test_chunk_documents_duck_parity(spark, duck):
    """chunk_documents == a DuckDB generate_series/list_slice twin on
    the real documents table; edge invariants pinned on planted rows."""
    from geonames_rdf_spark.operators import packing
    from tests.conftest import assert_df_parity

    from geonames_rdf_spark import oracle

    max_t, ov = 32, 8
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = packing.chunk_documents(docs, max_tokens=max_t, overlap=ov)
    # same rendering the driver's chunk_documents oracle row runs
    want = duck.execute(
        oracle._chunk_documents_sql(max_tokens=max_t, overlap=ov)).df()
    assert got.count() > docs.count()  # some docs actually split
    assert_df_parity(got, want)

    # edge invariants: coverage, no pure-suffix chunks, empty handling
    rows = [(0, " ".join(f"t{i}" for i in range(80))),   # 80 toks -> 3+
            (1, " ".join(f"t{i}" for i in range(32))),   # exactly max
            (2, " ".join(f"t{i}" for i in range(33))),   # max+1
            (3, "one"), (4, ""), (5, None), (6, "   ")]
    d2 = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = packing.chunk_documents(d2, max_tokens=max_t, overlap=ov)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: starts 0/24/48 (start 72 suppressed — 72+8 >= 80, its
    # tokens are fully covered by the chunk at 48)
    assert {k: len(v) for k, v in by_doc.items()} == {0: 3, 1: 1, 2: 2,
                                                      3: 1}
    # every token of doc 0 appears; consecutive chunks share `ov` tokens
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    toks = [c["chunk_text"].split() for c in c0]
    assert toks[0][:1] == ["t0"] and toks[-1][-1] == "t79"
    assert toks[0][-ov:] == toks[1][:ov]
    assert set(sum(toks, [])) == {f"t{i}" for i in range(80)}
    # doc 2 (max+1): second chunk = the ov-token overlap + exactly one
    # new token (33 - stride tokens, stride = max_t - ov)
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert c2[1]["n_tokens"] == 33 - (max_t - ov)

    import pytest as _pt
    with _pt.raises(ValueError, match="overlap"):
        packing.chunk_documents(d2, max_tokens=8, overlap=8)


def test_curate_pii_gate(spark):
    """max_pii drops documents whose sequential placeholder count
    exceeds the cap, and leaves the default path untouched."""
    from geonames_rdf_spark.operators import curate

    rows = [(i, "web", "en",
             f"a perfectly ordinary training paragraph number {i} with "
             "plenty of clean words to clear the quality bar easily")
            for i in range(8)]
    rows.append((100, "web", "en",
                 "leaky row: mail me at a@b.co or c@d.io, box at "
                 "10.0.0.1, ssn 123-45-6789 — plenty of words too"))
    d = spark.createDataFrame(rows, "doc_id bigint, source string, "
                                    "lang string, text string")
    base = {r["doc_id"] for r in
            curate.curate_corpus(d, min_quality=0.0).collect()}
    assert 100 in base  # no gate: the leaky row survives
    gated = {r["doc_id"] for r in
             curate.curate_corpus(d, min_quality=0.0,
                                  max_pii=3).collect()}
    assert gated == base - {100}  # 4 placeholders > cap 3
    loose = {r["doc_id"] for r in
             curate.curate_corpus(d, min_quality=0.0,
                                  max_pii=4).collect()}
    assert loose == base


def test_chunk_then_pack_composition_margin_1x(spark):
    """The run_curate chunk->pack composition at MARGIN 1x (VERDICT r05
    #3): both stages count the SAME unit — token_count whitespace tokens
    — and the packer budgets on the chunker's own n_tokens via
    count_col, so seq_len == chunk max_tokens packs with ZERO oversized;
    every chunk is packed exactly once.  Also pins the unit identity
    itself: token_count(chunk_text) == n_tokens for every chunk."""
    from geonames_rdf_spark.operators import packing
    from geonames_rdf_spark.operators.textstats import token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    chunks = packing.chunk_documents(docs, max_tokens=48, overlap=8)
    # unit identity: rejoined chunk text re-tokenizes to exactly n_tokens
    assert chunks.filter(
        token_count(F.col("chunk_text")) != F.col("n_tokens")).count() == 0
    pack_in = chunks.select(
        (F.col("doc_id") * 1_048_576 + F.col("chunk_id")).alias("doc_id"),
        "n_tokens")
    packed = packing.pack_sequences(pack_in, seq_len=48, n_buckets=8,
                                    count_col="n_tokens")
    assert packed.count() == chunks.count()  # exactly-once
    assert packed.filter("oversized").count() == 0
    stats = packing.pack_stats(packed, seq_len=48)
    assert stats.filter("total_tokens > 48").count() == 0
    # count_col path == retokenize path (same budget unit end to end)
    via_text = packing.pack_sequences(
        chunks.select((F.col("doc_id") * 1_048_576 + F.col("chunk_id"))
                      .alias("doc_id"),
                      F.col("chunk_text").alias("text")),
        seq_len=48, n_buckets=8)
    assert via_text.exceptAll(packed).count() == 0
    assert packed.exceptAll(via_text).count() == 0


def test_pack_sequences_group_size_guard(spark):
    """VERDICT r05 #1: a bucket must never materialize unboundedly as
    one pandas frame.  The split bounds every applyInPandas group at
    ~max_group_rows while keeping packing exactly-once,
    budget-respecting, deterministic, and pack-id-unique across
    sub-streams."""
    from geonames_rdf_spark.operators import packing

    # n_buckets=1: the pathological single-stream corpus
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok "), F.lit("word "), F.col("id").cast("string"))
        .alias("text"))
    packed = packing.pack_sequences(docs, seq_len=16, n_buckets=1,
                                    max_group_rows=500)
    assert packed.count() == 2000                       # exactly-once
    assert packed.select("doc_id").distinct().count() == 2000
    stats = packing.pack_stats(packed, seq_len=16)
    assert stats.filter("total_tokens > 16").count() == 0
    # sub-streams are disjoint pack-id ranges: no pack mixes streams
    # (pack_id >> 40 is the stream id; 2000/500 -> 4 streams)
    streams = {r[0] for r in
               packed.select((F.col("pack_id") / (1 << 40)).cast("int"))
               .distinct().collect()}
    assert len(streams) == 4
    # deterministic under re-partitioning
    again = packing.pack_sequences(docs.repartition(7), seq_len=16,
                                   n_buckets=1, max_group_rows=500)
    assert again.exceptAll(packed).count() == 0
    assert packed.exceptAll(again).count() == 0
    # guard silent below threshold: default params leave packing unsplit
    quiet = packing.pack_sequences(docs, seq_len=16, n_buckets=1)
    assert quiet.select(F.max(F.col("pack_id") / (1 << 40)).cast("int")) \
                .collect()[0][0] == 0


def test_normalize_url_duck_parity(spark, duck):
    """normalize_url == the DuckDB rendering of the same _STEPS chain
    on adversarial URLs; dedup keeps the earliest capture per canonical
    form."""
    import pandas as pd

    from geonames_rdf_spark.operators import urls

    raw = [
        "HTTPS://WWW.Example.COM:443/Path/Page?utm_source=x&q=1#frag",
        "https://example.com/Path/Page?q=1",
        "http://EXAMPLE.com:80/",
        "http://example.com",
        "http://example.com/a/b/?utm_campaign=z",
        "http://example.com/a/b",
        "http://www.example.com/a/b///",
        "https://other.org/X?fbclid=abc123",
        "https://other.org/X?gclid=1&real=2&utm_term=q",
        "https://other.org/X?real=2",
        "http://host.io:8080/keep:port?x=1&y=2",
        "ftp://weird.example/NoHttp#f",
        "not a url at all",
        None,
        # r06 additions — port before query (ADVICE r05), ':80' inside a
        # query string must survive, %xx case, query-param sort
        "http://example.com:80?x=1",
        "http://example.com/a?x=1:80/path",
        "https://other.org/P?b=2&a=%7e1",
        "HTTPS://Other.ORG/%2fpath%Ab?z=9&utm_source=t&a=2",
        "deadbeef%2f not-http stays untouched",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(raw)), "url": raw})
    d = spark.createDataFrame(pdf)
    duck.register("url_fixture", pdf)
    got = d.select("doc_id",
                   urls.normalize_url_expr(F.col("url")).alias("canon"))
    want = duck.execute(
        "SELECT doc_id, " + urls.url_oracle_expr("url")
        + " AS canon FROM url_fixture").df()
    from tests.conftest import assert_df_parity
    assert_df_parity(got, want)

    canon = {r["doc_id"]: r["canon"] for r in got.collect()}
    assert canon[0] == "https://example.com/Path/Page?q=1" == canon[1]
    assert canon[2] == "http://example.com" == canon[3]
    assert canon[4] == "http://example.com/a/b" == canon[5] == canon[6]
    assert canon[7] == "https://other.org/X"
    assert canon[8] == "https://other.org/X?real=2" == canon[9]
    assert canon[10] == "http://host.io:8080/keep:port?x=1&y=2"
    assert canon[13] is None
    assert canon[14] == "http://example.com?x=1"          # :80 before '?'
    assert canon[15] == "http://example.com/a?x=1:80/path"  # :80 in query
    assert canon[16] == "https://other.org/P?a=%7E1&b=2"  # %case + sort
    assert canon[17] == "https://other.org/%2Fpath%AB?a=2&z=9"
    assert canon[18] == "deadbeef%2f not-http stays untouched"

    # dedup: earliest warc_ts survives per canonical url
    pages = spark.createDataFrame(
        [("https://EXAMPLE.com/p?utm_source=a", "2026-01-02", "late"),
         ("https://example.com/p", "2026-01-01", "early"),
         ("https://example.com/q", "2026-01-03", "other")],
        "url string, warc_ts string, tag string")
    kept = urls.dedup_pages_by_url(pages)
    rows = {r["url_canonical"]: r["tag"] for r in kept.collect()}
    assert rows == {"https://example.com/p": "early",
                    "https://example.com/q": "other"}


def test_registered_domain_duck_parity(spark, duck):
    """domains.registered_domain_expr == the DuckDB rendering of the
    same SUFFIX2 table on adversarial hosts; cap_per_domain keeps the
    earliest max_docs per registered domain, deterministically."""
    import pandas as pd

    from geonames_rdf_spark.operators import domains

    raw = [
        "https://a.blog.example.co.uk/p1",      # 3-label suffix
        "https://b.example.co.uk/p2",           # same publisher
        "http://example.co.uk/p3",              # bare registered domain
        "https://www.foo.org/x",                # plain 2-label
        "https://deep.sub.foo.org/y",           # same publisher
        "http://bar.org/z",                     # different publisher
        "http://localhost/dev",                 # single label
        "http://192.168.0.1:8080/admin",        # IPv4 literal
        "https://user:pw@secure.example.com.au/q",  # userinfo + 3-label
        "HTTPS://UPPER.Example.ORG/Case",       # case in host only
        "not a url",
        None,
        # r07 pinned-PSL snapshot coverage (VERDICT r06 #3)
        "https://example.gov.au/page",          # gov.au 2-level suffix
        "https://agency.example.gov.au/page",   # same publisher
        "https://foo.com.sg/x",                 # bare registrable
        "https://school.act.edu.au/enrol",      # 3-LEVEL suffix (au states)
        "https://www.school.act.edu.au/enrol",  # same publisher
        "https://district.k12.ca.us/board",     # 3-level k12 scheme
        "https://www.district.k12.ca.us/board",  # same publisher
        "https://k12.ca.us/",                   # host IS the suffix
        "https://ville.gouv.fr/",               # gouv.fr
        "https://shop.example.co.kr/item",      # co.kr
        # r08: bracketed IPv6 literals pass through WHOLE (r07 #4: the
        # generic branch used to truncate at the first ':')
        "http://[2001:db8::1]/x",
        "http://[2001:db8::2]:8080/y",          # with port
        "https://u@[::ffff:10.0.0.1]/z",        # userinfo + v4-mapped
        # r08: PSL wildcard (*.ck) + exception (!www.ck) rules
        "https://shop.foo.ck/item",             # *.ck => last 3 labels
        "https://deep.shop.foo.ck/item",        # same publisher
        "https://www.ck/home",                  # !www.ck => registrable
        "https://a.www.ck/home",                # exception beats wildcard
        "https://site.org.bd/x",                # *.bd (moved to wildcard)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(raw)), "url": raw})
    d = spark.createDataFrame(pdf)
    duck.register("dom_fixture", pdf)
    got = d.select(
        "doc_id",
        domains.registered_domain_expr(F.col("url")).alias("domain"))
    want = duck.execute(
        "SELECT doc_id, " + domains.domain_oracle_expr("url")
        + " AS domain FROM dom_fixture ORDER BY doc_id").df()
    assert_df_parity(got, want)

    dom = {r["doc_id"]: r["domain"] for r in got.collect()}
    assert dom[0] == dom[1] == dom[2] == "example.co.uk"
    assert dom[3] == dom[4] == "foo.org"
    assert dom[5] == "bar.org"
    assert dom[6] == "localhost"
    assert dom[7] == "192.168.0.1"
    assert dom[8] == "example.com.au"
    assert dom[9] == "example.org"
    assert dom[10] is None and dom[11] is None
    assert dom[12] == dom[13] == "example.gov.au"
    assert dom[14] == "foo.com.sg"
    assert dom[15] == dom[16] == "school.act.edu.au"
    assert dom[17] == dom[18] == "district.k12.ca.us"
    assert dom[19] == "k12.ca.us"  # the suffix itself passes through
    assert dom[20] == "ville.gouv.fr"
    assert dom[21] == "example.co.kr"
    assert dom[22] == "[2001:db8::1]"
    assert dom[23] == "[2001:db8::2]"
    assert dom[24] == "[::ffff:10.0.0.1]"
    assert dom[25] == dom[26] == "shop.foo.ck"
    assert dom[27] == dom[28] == "www.ck"
    assert dom[29] == "site.org.bd"


def _registered_domain_py_ref(url):
    """Third, pure-Python rendering of the registered-domain rule —
    shared by the generated three-way sweep and the hypothesis fuzz."""
    import re as _re

    from geonames_rdf_spark.operators.psl_snapshot import (
        EXCEPTION2, SUFFIX2, SUFFIX3, WILDCARD_TLD)

    if url is None:
        return None
    m = _re.match(r"^[^/?#]*//(?:[^/?#@]*@)?(\[[^\]/?#]*\]|[^/?#:]+)",
                  url)
    host = m.group(1).lower() if m and m.group(1) else None
    if not host:
        return None
    labels = host.split(".")
    n = len(labels)
    if (n <= 2 or _re.fullmatch(r"\d+\.\d+\.\d+\.\d+", host)
            or host.startswith("[")):
        return host
    if ".".join(labels[-2:]) in EXCEPTION2:
        return ".".join(labels[-2:])
    if labels[-1] in WILDCARD_TLD:
        return ".".join(labels[-3:])
    if n > 3 and ".".join(labels[-3:]) in SUFFIX3:
        return ".".join(labels[-4:])
    if ".".join(labels[-2:]) in SUFFIX2:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def test_registered_domain_three_way_parity_generated(spark, duck):
    """Third-implementation parity sweep over the WHOLE pinned PSL
    snapshot shape: a pure-Python rendering of the suffix rule vs the
    Spark Column expression vs the DuckDB scalar, on hosts generated
    from the snapshot itself (every k-th suffix x {bare, one sub, two
    subs, uppercase, port, userinfo}) plus structural adversaries.
    One Spark job + one DuckDB query — not per-example."""
    import re as _re

    import pandas as pd

    from geonames_rdf_spark.operators import domains
    from geonames_rdf_spark.operators.psl_snapshot import (
        EXCEPTION2, SUFFIX2, SUFFIX3, WILDCARD_TLD)

    py_ref = _registered_domain_py_ref

    urls: list[str | None] = []
    for suf in list(SUFFIX2)[::37] + list(SUFFIX3)[::11]:
        urls += [f"https://{suf}/p",            # host IS the suffix
                 f"https://site.{suf}/p",        # bare registrable
                 f"https://a.b.site.{suf}/p",    # deep subdomain
                 f"https://UP.Site.{suf.upper()}/p",   # case
                 f"http://u:p@x.{suf}:8080/p?q=1"]     # userinfo+port
    # r08: every wildcard TLD and every exception name, same shapes
    for tld in WILDCARD_TLD:
        urls += [f"https://site.{tld}/p",        # bare 2-label (pass)
                 f"https://reg.site.{tld}/p",    # registrable under *
                 f"https://a.reg.site.{tld}/p",  # deep subdomain
                 f"http://u@REG.Site.{tld.upper()}:81/p"]
    for exc in EXCEPTION2:
        urls += [f"https://{exc}/p", f"https://sub.{exc}/p"]
    urls += ["https://plain.org/", "https://a.b.c.d.plain.org/",
             "http://localhost/", "http://10.0.0.1/x",
             "https://xn--idn.example/", "ftp://f.co.uk/",
             "https://trailingdot.org./",  # trailing dot: 3 labels, last ''
             # bracketed IPv6: whole-host pass-through in all 3 engines
             "http://[2001:db8::1]/", "http://[2001:db8::1]:443/",
             "https://u@[fe80::a.b.example]/",  # brackets beat dots
             "not a url", "", None]

    pdf = pd.DataFrame({"i": range(len(urls)), "url": urls})
    got_spark = {
        r["i"]: r["d"] for r in spark.createDataFrame(pdf).select(
            "i", domains.registered_domain_expr(F.col("url")).alias("d"))
        .collect()}
    duck.register("dom_sweep", pdf)
    got_duck = {int(r["i"]): r["d"] for _, r in duck.execute(
        "SELECT i, " + domains.domain_oracle_expr("url")
        + " AS d FROM dom_sweep").df().iterrows()}
    for i, u in enumerate(urls):
        want = py_ref(u)
        assert got_spark[i] == want, (u, got_spark[i], want)
        d = got_duck[i]
        d = None if (d is None or d != d) else d  # pandas NaN -> None
        assert d == want, (u, d, want)


try:
    from hypothesis import given as _given
    from hypothesis import settings as _settings
    from hypothesis import strategies as _st

    _URL_ALPHABET = ("abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNO"
                     "0123456789" "./:@[]#?%-_~!$&'()*+,;=\\ ")

    @_settings(max_examples=200, deadline=None)
    @_given(u=_st.one_of(
        _st.text(alphabet=_URL_ALPHABET, max_size=60),
        _st.builds(lambda scheme, body: scheme + body,
                   _st.sampled_from(["http://", "https://", "ftp://",
                                     "//", ""]),
                   _st.text(alphabet=_URL_ALPHABET, max_size=50)),
    ))
    def test_registered_domain_fuzz_duck_vs_py(duck, u):
        """Structural fuzz over adversarial ASCII url shapes (stray
        brackets, repeated @, empty labels, colons everywhere): the
        DuckDB rendering of the registered-domain rule must agree with
        the pure-Python reference on EVERY input — the fixed sweeps
        cover the snapshot's shape, this covers RE2-vs-Python regex
        semantics on garbage (the parser must degrade identically, not
        just on well-formed urls).  Spark-side parity rides the
        deterministic sweep (a Spark job per hypothesis example would
        be prohibitive; the Spark and DuckDB renderings are generated
        from the SAME tables, so duck==py plus sweep-parity pins all
        three)."""
        from geonames_rdf_spark.operators import domains

        got = duck.execute(
            "SELECT " + domains.domain_oracle_expr("url")
            + " AS d FROM (SELECT CAST(? AS VARCHAR) AS url)", [u]
        ).fetchone()[0]
        assert got == _registered_domain_py_ref(u), (u, got)
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass


def test_cap_per_domain_and_stats(spark):
    from geonames_rdf_spark.operators import domains

    pages = spark.createDataFrame(
        [(f"https://sub{i % 3}.big.com/p{i}", f"2026-01-{i + 1:02d}")
         for i in range(6)]
        + [("https://small.org/only", "2026-02-01"),
           ("https://tiny.net/a", "2026-02-02"),
           ("https://tiny.net/b", "2026-02-03")],
        "url string, warc_ts string")
    out = domains.cap_per_domain(pages, max_docs=2).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    assert len(out) == 9  # flagged, never dropped
    big_kept = sorted(r["url"] for r in by_dom["big.com"] if r["domain_kept"])
    # earliest two warc_ts win (i=0,1), regardless of subdomain
    assert big_kept == ["https://sub0.big.com/p0", "https://sub1.big.com/p1"]
    assert sum(not r["domain_kept"] for r in by_dom["big.com"]) == 4
    assert all(r["domain_kept"] for r in by_dom["small.org"])
    assert all(r["domain_kept"] for r in by_dom["tiny.net"])

    stats = {r["domain"]: r for r in
             domains.domain_stats(pages).collect()}
    assert stats["big.com"]["n_docs"] == 6
    assert abs(stats["big.com"]["share"] - 6 / 9) < 1e-12
    assert stats["tiny.net"]["n_docs"] == 2

    # NULL-domain rows (unparseable urls) are EXEMPT from the cap even
    # when they outnumber it — flagged kept, never ranked as one giant
    # pseudo-domain
    noise = spark.createDataFrame(
        [(f"no scheme here {i}", f"2026-03-{i + 1:02d}") for i in range(5)]
        + [("https://real.org/a", "2026-03-01")],
        "url string, warc_ts string")
    out2 = domains.cap_per_domain(noise, max_docs=2).collect()
    assert len(out2) == 6
    assert all(r["domain_kept"] for r in out2)
    assert sum(r["domain"] is None for r in out2) == 5


def test_dedup_lines_duck_parity(spark, duck):
    """lines.dedup_lines == the independent DuckDB window formulation:
    global first-occurrence wins (across AND within docs), short lines
    exempt, all-lines-removed docs come back empty."""
    import pandas as pd

    from geonames_rdf_spark.operators import lines as L

    docs = [
        (0, "unique alpha line\nSHARED BOILERPLATE COOKIE BANNER\nok"),
        (1, "SHARED BOILERPLATE COOKIE BANNER\nunique beta line"),
        (2, "repeat me inside\nrepeat me inside\nunique gamma"),
        (3, "SHARED BOILERPLATE COOKIE BANNER"),   # -> empty after dedup
        (4, "a\nb\na"),                            # short lines exempt
        (5, ""),
        (6, None),                                 # NULL text == empty
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    d = spark.createDataFrame(pdf)
    duck.register("line_fixture", pdf)

    got = L.dedup_lines(d, min_chars=2)
    want = duck.execute(
        L.dedup_lines_sql("SELECT * FROM line_fixture", min_chars=2)
        + " ORDER BY doc_id").df()
    assert_df_parity(got, want)

    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows[0]["text"] == ("unique alpha line\n"
                               "SHARED BOILERPLATE COOKIE BANNER\nok")
    assert rows[1]["text"] == "unique beta line"
    assert rows[1]["n_lines_removed"] == 1
    assert rows[2]["text"] == "repeat me inside\nunique gamma"
    assert rows[3]["text"] == "" and rows[3]["n_lines_kept"] == 0
    assert rows[4]["text"] == "a\nb\na"  # 1-char lines never deduped
    assert rows[5]["n_lines_kept"] == 1  # the single empty line, exempt
    # ADVICE r06: NULL-text docs honor the one-row-per-input contract
    # (they used to vanish — posexplode of NULL yields no rows)
    assert rows[6]["text"] == "" and rows[6]["n_lines_kept"] == 1

    # the library default is pinned POSITIVE (a forgotten knob must not
    # dedup one-word lines corpus-wide) and the engines share it
    assert L.DEFAULT_MIN_CHARS > 0
    got_def = L.dedup_lines(d)
    want_def = duck.execute(
        L.dedup_lines_sql("SELECT * FROM line_fixture")
        + " ORDER BY doc_id").df()
    assert_df_parity(got_def, want_def)
    def_rows = {r["doc_id"]: r for r in got_def.collect()}
    assert def_rows[4]["text"] == "a\nb\na"  # short lines still exempt
    assert def_rows[1]["n_lines_removed"] == 1  # banner still deduped


def test_dedup_spans_c4_duck_parity(spark, duck):
    """lines.dedup_spans: the C4-faithful unit — non-overlapping
    three-sentence spans — deduped globally at first occurrence, with
    the independent DuckDB twin (floor-grouped sentinel split) agreeing
    exactly."""
    import pandas as pd

    from geonames_rdf_spark.operators import lines as L

    banner = ("This site uses cookies. Accept all to continue. "
              "See our policy for details.")
    docs = [
        (0, banner + " Unique alpha sentence one. Alpha two. Alpha "
            "three. Alpha trailing partial."),
        (1, banner + " Unique beta sentence."),
        (2, "No boilerplate here. Just two sentences."),
        (3, banner),                    # span-only doc -> empty after dedup
        (4, None),
        # ADVICE r07: \x0B (vertical tab) after punctuation — Java \s
        # matches it, RE2 \s does not; the explicit shared class must
        # split identically in both engines (NOT at the \x0B here)
        (5, "Gamma one.\x0bGamma two. Gamma three. Gamma four. G five."),
        # and the shared class members still split in both engines
        (6, "Delta one.\tDelta two.\nDelta three.\fDelta four. D five."),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    d = spark.createDataFrame(pdf)
    duck.register("span_fixture", pdf)

    got = L.dedup_spans(d, n_sentences=3)
    want = duck.execute(
        L.dedup_spans_sql("SELECT * FROM span_fixture", n_sentences=3)
        + " ORDER BY doc_id").df()
    assert_df_parity(got, want)

    rows = {r["doc_id"]: r for r in got.collect()}
    # doc 0 owns the banner span's first occurrence; docs 1 and 3 lose it
    assert rows[0]["text"].startswith(banner)
    assert "Alpha trailing partial." in rows[0]["text"]  # partial window
    assert rows[1]["text"] == "Unique beta sentence."
    assert rows[1]["n_lines_removed"] == 1
    assert rows[3]["text"] == "" and rows[3]["n_lines_kept"] == 0
    assert rows[4]["text"] == "" and rows[4]["n_lines_kept"] == 1
    # \x0B is NOT a boundary: "Gamma one.\x0bGamma two." rides inside
    # one sentence, so doc 5 splits into ["...two.", "three.", "four."]
    # + partial — 2 spans, both unique, both kept
    assert rows[5]["n_lines_removed"] == 0 and "\x0b" in rows[5]["text"]
    assert rows[6]["n_lines_removed"] == 0 and rows[6]["n_lines_kept"] == 2


def test_cap_per_domain_matches_whole_domain_window(spark):
    """The cap (counts, anti-join for the under-cap tail, one window over
    the over-cap rows only) equals the naive formulation that ranks every
    row over its whole domain."""
    from pyspark.sql import Window as W

    from geonames_rdf_spark.operators import domains

    # 3 over-cap domains (one 40-row 'mega' key), 2 under-cap, with
    # deliberately shuffled insert order and non-monotone timestamps
    rows = []
    for i in range(40):
        rows.append((f"https://s{i % 5}.mega.com/p{(i * 7) % 40}",
                     f"2026-01-01 00:{(i * 13) % 60:02d}:00"))
    for i in range(8):
        rows.append((f"https://mid.org/p{(i * 3) % 8}",
                     f"2026-01-02 00:{i:02d}:00"))
    for i in range(7):
        rows.append((f"https://also.co.uk/x{i}",
                     f"2026-01-0{(i % 3) + 1} 12:00:0{i}"))
    rows += [("https://small.net/a", "2026-02-01 00:00:00"),
             ("https://tiny.io/b", "2026-02-02 00:00:00"),
             # NULL order value inside an over-cap domain: ranked like
             # the reference (nulls first under asc)
             ("https://x.mega.com/null-ts", None)]
    pages = spark.createDataFrame(rows, "url string, warc_ts string")

    # naive reference: rank over the whole domain
    dom = domains.registered_domain_expr(F.col("url")).alias("domain")
    w = W.partitionBy("domain").orderBy(F.col("warc_ts").asc(),
                                        F.col("url").asc())
    ref = (pages.select("*", dom)
           .withColumn("domain_kept", F.row_number().over(w) <= 5)
           .orderBy("url", "warc_ts"))
    want = [(r["url"], r["domain"], r["domain_kept"])
            for r in ref.collect()]

    got = domains.cap_per_domain(pages, max_docs=5).orderBy("url", "warc_ts")
    assert [(r["url"], r["domain"], r["domain_kept"])
            for r in got.collect()] == want


def test_cap_per_domain_ties_keep_exactly_max_docs(spark):
    """Duplicate (order, url) keys break the documented uniqueness
    precondition, but the cap stays exact: row_number numbers tied rows
    apart, so a domain keeps exactly max_docs rows."""
    from geonames_rdf_spark.operators import domains

    rows = ([("https://dupe.com/same", "2026-01-01")] * 3
            + [(f"https://dupe.com/p{i}", f"2026-01-{i + 2:02d}")
               for i in range(5)])
    pages = spark.createDataFrame(rows, "url string, warc_ts string")
    out = domains.cap_per_domain(pages, max_docs=2).collect()
    kept = [r["url"] for r in out if r["domain_kept"]]
    assert len(out) == 8
    assert kept == ["https://dupe.com/same"] * 2


def test_cap_per_domain_releases_counts_cache(spark):
    """The pre-flight per-domain counts aggregate must NOT outlive the
    call (VERDICT r07 #2 — one leaked MEMORY_AND_DISK frame per call in
    a long-lived session): repeated calls, each fully materialized,
    leave the persistent-RDD registry exactly where it started."""
    from geonames_rdf_spark.operators import domains

    pages = spark.createDataFrame(
        [(f"https://d{i % 7}.com/p{j}", f"2026-01-{j + 1:02d}")
         for i in range(7) for j in range(5)],
        "url string, warc_ts string")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        out = domains.cap_per_domain(pages, max_docs=2)
        assert out.count() == 35
    assert jsc.getPersistentRDDs().size() == before


def test_near_dup_clusters_chain_transitive(spark):
    """Pairwise hits A~B, B~C consolidate into ONE cluster labeled by
    the smallest id — the keep-set {A} — even though the A~C pair was
    never emitted; disjoint pairs stay separate clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a bigint, id_b bigint")
    out = {r["doc_id"]: r["cluster"]
           for r in dedup.near_dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}
