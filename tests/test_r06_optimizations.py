"""Round-6 optimization equivalence tests: every kernel that replaced
a DataFrame/sequential formulation this round is pinned against the
formulation it replaced (or a scalar reference that still lives in the
tree)."""

import numpy as np
import pytest

from greenexp_r_spark.operators import classify, dedup, similarity, textqa


# --------------------------------------------------------------- GEMM
def test_exact_gemm_matches_int64_matmul():
    rng = np.random.RandomState(7)
    A = rng.randint(-5000, 5000, size=(37, 64)).astype(np.int64)
    B = rng.randint(-5000, 5000, size=(64, 23)).astype(np.int64)
    got = similarity._exact_gemm(A, B)
    assert np.array_equal(got.astype(np.int64), A @ B)


def test_exact_gemm_falls_back_when_unsafe():
    A = np.array([[similarity._F64_EXACT_MAX + 1]], dtype=np.int64)
    B = np.array([[3]], dtype=np.int64)
    got = similarity._exact_gemm(A, B)
    assert got.dtype == np.int64          # int64 path taken
    assert got[0, 0] == (similarity._F64_EXACT_MAX + 1) * 3


# ------------------------------------------- pairwise intersection
@pytest.mark.parametrize("cap", [2, 3, 128])
def test_block_intersections_match_set_intersections(cap):
    """Every block pair of a bucket, including element columns split
    into chunks of `cap` (2 and 3 force the chunking)."""
    rng = np.random.RandomState(11)
    arrs = [np.unique(rng.randint(0, 40, size=rng.randint(1, 25))
                      .astype(np.int64)) for _ in range(9)]
    offs = np.concatenate([[0], np.cumsum([len(a) for a in arrs])])
    vals = np.concatenate(arrs)
    for a0, a1, b0, b1 in [(0, 9, 0, 9), (0, 4, 4, 9), (2, 5, 2, 5),
                           (1, 3, 6, 8)]:
        got = dedup._block_intersections(vals, offs, a0, a1, b0, b1, cap)
        for i in range(a0, a1):
            for j in range(b0, b1):
                if i == j:
                    continue          # a member with itself: no pair
                want = len(set(arrs[i]) & set(arrs[j]))
                assert got[i - a0, j - b0] == want


# ------------------------------------------------- shingle kernel
def test_numpy_shingles_match_jvm_expressions(spark):
    from pyspark.sql import functions as F
    from greenexp_r_spark.functions import text as T

    texts = ["a b c a b", "hello world hello", "x", "", "one two",
             "pad  double  spaces", " lead", "trail ", "Ww yY zZ a"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r.doc_id: list(r.sh_arr)
           for r in dedup.shingle_arrays(docs).collect()}
    # the pre-r6 JVM expression tree, verbatim
    w = T.words(F.col("text"))
    df = docs.select("doc_id", w.alias("warr")).where(F.size("warr") >= 2)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("warr") - 1),
        lambda i: T.shingle_hash(
            T.word_hash(F.element_at(F.col("warr"), i)),
            T.word_hash(F.element_at(F.col("warr"), i + 1))))
    want = {r.doc_id: list(r.sh_arr)
            for r in df.select(
                "doc_id", F.array_distinct(sh).alias("sh_arr")).collect()}
    assert got == want


# --------------------------------------------------- NB classifier
def test_quality_classifier_matches_dataframe_path(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fused = {r.doc_id: (r.n_feat, r.evidence_pm, r.score_pm, r.clf_keep)
             for r in classify.quality_classifier(docs).collect()}
    ref = {r.doc_id: (r.n_feat, r.evidence_pm, r.score_pm, r.clf_keep)
           for r in classify.classify(
               docs, classify.nb_train(docs)).collect()}
    assert fused == ref


# ---------------------------------------------- fingerprint fusion
def test_fingerprint_rep_matches_component_operators(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fused = {r.doc_id: r.asDict()
             for r in textqa.fingerprint_rep(docs).collect()}
    ref = {r.doc_id: r.asDict()
           for r in textqa.fingerprint(docs).join(
               textqa.repetition_stats(docs), "doc_id").collect()}
    assert fused == ref


# --------------------------------- brute partial top-k tie handling
def test_brute_topk_stable_under_adversarial_partitioning(spark):
    """The r5 partial top-k cut ties by batch row order, which broke
    the moment batches stopped arriving vec_id-sorted (jl variant,
    caught by the oracle gate).  Pin: a corpus of IDENTICAL vectors
    (every cosine ties at 1.0) must return the smallest neighbor ids
    regardless of a descending-id repartitioned input."""
    n, dim = 400, 8
    rows = [(int(v), [1.0] * dim) for v in range(n - 1, -1, -1)]
    emb = (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
           .repartition(13))
    out = similarity.brute_force_topk_numpy(emb, k=3, n_queries=2) \
        .collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert sorted(by_q[0]) == [(1, 1), (2, 2), (3, 3)]
    assert sorted(by_q[1]) == [(1, 0), (2, 2), (3, 3)]


# ------------------------------------------ vectorized JPEG encoder
def test_vectorized_entropy_coder_matches_sequential_blocks():
    from greenexp_r_spark.kernels import jpeg as J

    rng = np.random.RandomState(3)
    for trial in range(4):
        zz = rng.randint(-40, 40, size=(6, 64)).astype(np.int64)
        zz[:, 20:] = np.where(rng.rand(6, 44) < 0.8, 0, zz[:, 20:])
        w_seq = J._BitWriter()
        prev = 0
        for b in range(len(zz)):
            prev = J._encode_block(w_seq, zz[b], prev)
        w_vec = J._BitWriter()
        J._encode_interleaved_vec(w_vec, [zz])
        assert w_seq.flush() == w_vec.flush(), f"trial {trial}"


def test_vectorized_interleave_matches_sequential_mcu_walk():
    from greenexp_r_spark.kernels import jpeg as J

    rng = np.random.RandomState(9)
    comps = [rng.randint(-25, 25, size=(4, 64)).astype(np.int64)
             for _ in range(3)]
    for zz in comps:
        zz[:, 10:] = np.where(rng.rand(4, 54) < 0.7, 0, zz[:, 10:])
    w_seq = J._BitWriter()
    prev = [0] * 3
    for b in range(4):
        for c in range(3):
            prev[c] = J._encode_block(w_seq, comps[c][b], prev[c])
    w_vec = J._BitWriter()
    J._encode_interleaved_vec(w_vec, comps)
    assert w_seq.flush() == w_vec.flush()


# ------------------------------------------------------- widen gate
def test_widen_noop_below_size_gate(spark, sf_dir):
    from greenexp_r_spark.plans.widen import widen

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # gate fixtures are far below WIDEN_MIN_BYTES -> identical plan
    assert widen(df) is df
