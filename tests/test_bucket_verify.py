"""The one bucket verifier behind the MinHash, incremental and embedding
near-dup operators: hot buckets are scored in blocks (bounded memory,
same pairs), a forced split changes no row, and building the operators
runs no Spark job."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from greenexp_r_spark import constants as C
from greenexp_r_spark.operators import dedup, similarity
from greenexp_r_spark.sources import pages as P
from tests.conftest import SF_TEST
from tests.test_round4_ops import all_pairs_jaccard

N_BANDS = len(C.MINHASH_PERMS) // C.MINHASH_BAND_ROWS


def _planted_sets(k_near, k_far=0, n_shared=200, seed=5):
    """Shingle sets of k_near + k_far documents that all share
    `n_shared` values: each near document adds 3 values of its own,
    each far one 150 (near × near and near × far pairs score ≥ 0.5,
    far × far 0.4).  Every own value hashes above the shared minimum
    under each MinHash permutation, so all documents fall in one
    bucket per band."""
    rng = np.random.RandomState(seed)
    pool = np.unique(rng.randint(1, C.P31, size=n_shared + 3 * k_near
                                 + 150 * k_far + 4096).astype(np.int64))
    rng.shuffle(pool)
    shared, rest = pool[:n_shared], pool[n_shared:]
    for a, b in C.MINHASH_PERMS:
        rest = rest[(rest * a + b) % C.P31 > ((shared * a + b) % C.P31).min()]
    sizes = [3] * k_near + [150] * k_far
    cuts = np.cumsum([0] + sizes)
    assert cuts[-1] <= len(rest)
    return [np.concatenate([shared, rest[lo:hi]])
            for lo, hi in zip(cuts[:-1], cuts[1:])]


def _bucket_batch(sets):
    """One Arrow batch holding a single bucket whose members are
    (id, sh_arr), as `bucket_verify` hands it to Python."""
    sh = pa.array([s.tolist() for s in sets], type=pa.list_(pa.int64()))
    members = pa.StructArray.from_arrays(
        [pa.array(np.arange(len(sets)), pa.int64()), sh],
        names=["id", "sh_arr"])
    m = pa.ListArray.from_arrays(pa.array([0, len(sets)], pa.int32()),
                                 members)
    return pa.RecordBatch.from_arrays([m], names=["m"])


def _verify_peak(k):
    """(traced peak bytes, pairs) of verifying one k-member hot bucket."""
    rb = _bucket_batch(_planted_sets(k))
    tracemalloc.start()
    try:
        n = sum(out.num_rows for out in dedup._verify_buckets(
            iter([rb]), ["id", "sh_arr"], dedup._jaccard_kernel,
            C.JACCARD_THRESHOLD, ("doc_a", "doc_b", "jaccard"),
            dedup.BUCKET_CAP))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return peak, n


def test_hot_bucket_verify_memory_does_not_grow_with_the_bucket():
    """Scoring a bucket whole needs memory quadratic in its members
    (363 MB at 300, 1,446 MB at 600 for this bucket); in blocks the
    peak stays that of one block pair."""
    p300, n300 = _verify_peak(300)
    p600, n600 = _verify_peak(600)
    assert n300 == 300 * 299 // 2 and n600 == 600 * 599 // 2
    assert p600 <= 1.25 * p300
    assert p600 < 64 << 20


def test_minhash_pairs_on_planted_hot_bucket_match_all_pairs(spark):
    sets = _planted_sets(260, k_far=40)
    sh = spark.createDataFrame(
        [(i, s.tolist()) for i, s in enumerate(sets)],
        "doc_id long, sh_arr array<long>")
    sizes = [r["count"] for r in
             dedup._band_members(sh).groupBy("bucket").count().collect()]
    assert sizes == [len(sets)] * N_BANDS       # one hot bucket per band
    got = (dedup.minhash_lsh_pairs(None, sh=sh).toPandas()
           .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    want = (all_pairs_jaccard(sh, C.JACCARD_THRESHOLD).toPandas()
            .sort_values(["doc_a", "doc_b"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert len(got) == 300 * 299 // 2 - 40 * 39 // 2


def _sorted_rows(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _near_dup_outputs(spark):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    aug = dedup.augmented_corpus(docs)
    return {
        "minhash": dedup.minhash_lsh_pairs(aug),
        "incremental": dedup.incremental_pairs(
            aug.where(F.col("doc_id") < 1_000_000),
            aug.where(F.col("doc_id") >= 1_000_000)),
        "neardup": similarity.neardup_pairs(emb),
    }


def test_forced_bucket_split_changes_no_row(spark, monkeypatch):
    """With the cap at 2 every bucket of 3+ members is scored as block
    pairs (and the Jaccard kernel's element columns in chunks of 2):
    the rows equal those of the default cap."""
    want = {k: _sorted_rows(df)
            for k, df in _near_dup_outputs(spark).items()}
    monkeypatch.setattr(dedup, "BUCKET_CAP", 2)
    got = {k: _sorted_rows(df)
           for k, df in _near_dup_outputs(spark).items()}
    for k in want:
        assert len(want[k]) > 0, k
        pd.testing.assert_frame_equal(got[k], want[k], check_exact=True)
    # the fixture's buckets do split at this cap
    aug = dedup.augmented_corpus(
        spark.read.parquet(f"{SF_TEST}/documents.parquet"))
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    mh = dedup._band_members(dedup.shingle_arrays(aug))
    nd = similarity._lsh_band_keys_numpy(similarity.neardup_corpus(emb)) \
        .select(F.posexplode("bkeys").alias("band", "bkey"))
    for members, key in ((mh, ["bucket"]), (nd, ["band", "bkey"])):
        top = members.groupBy(*key).count().agg(F.max("count")).first()[0]
        assert top > 2


def _build_jobs(sc, group, build):
    """Spark jobs run while `build()` constructs its DataFrames."""
    sc.setJobGroup(group, group)
    try:
        build()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_building_near_dup_operators_runs_no_job(spark):
    """No size probe, collect or broadcast while the plan is built:
    the jobs start with the action."""
    from greenexp_r_spark import registry_pipeline

    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    aug = dedup.augmented_corpus(docs)

    def build():
        dedup.minhash_lsh_pairs(aug)
        dedup.minhash_lsh_pairs(aug, sh=dedup.shingle_table(aug))
        dedup.incremental_pairs(aug.where(F.col("doc_id") < 1_000_000),
                                aug.where(F.col("doc_id") >= 1_000_000))
        similarity.neardup_pairs(emb)

    sc = spark.sparkContext
    assert _build_jobs(sc, "near-dup-build", build) == 0
    # the dedup union query: no job (its documents schema is declared)
    n_read = _build_jobs(sc, "parquet-read",
                         lambda: P.documents_df(spark, SF_TEST))
    assert n_read == 0
    assert _build_jobs(
        sc, "dedup-union-build",
        lambda: registry_pipeline._q_dedup_neardup_union(spark, SF_TEST)) \
        == n_read
