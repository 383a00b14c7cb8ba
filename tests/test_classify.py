"""Trained hashed-feature quality classifier (operators/classify.py)
and incremental cross-corpus dedup (dedup.incremental_pairs)."""
from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from greenexp_r_spark import constants as C
from greenexp_r_spark.operators import classify, dedup


def _py_word_hash(w: str) -> int:
    p = w + "_"
    return (ord(p[0]) * C.WORDHASH_P1 + ord(p[1]) * C.WORDHASH_P2
            + len(w))


def _py_classifier(texts: dict[int, str]):
    """Pure-python reference of the full train→apply pipeline."""
    feats = {d: {_py_word_hash(w) % C.NB_BUCKETS
                 for w in t.split(" ")} for d, t in texts.items()}
    pos = {d: sum(w in C.STOPWORDS_EN for w in t.split(" "))
           * C.NB_STOP_NUM >= len(t.split(" "))
           for d, t in texts.items()}
    counts: dict[int, list[int]] = {}
    for d, bs in feats.items():
        for b in bs:
            np_, na = counts.get(b, (0, 0))
            counts[b] = (np_ + (1 if pos[d] else 0), na + 1)
    weights = {b: (C.NB_SCALE * (np_ + 1)) // (na + 2)
               for b, (np_, na) in counts.items()}
    out = {}
    for d, bs in feats.items():
        ev = sum(weights[b] for b in bs)
        score = ev // len(bs)
        out[d] = (len(bs), ev, score, score >= C.NB_KEEP_PM)
    return out


FIX = {
    1: "the quick brown fox jumps over the lazy dog and the cat",
    2: "zzz qqq xxx www kkk jjj mmm nnn ppp",
    3: "the the the and and of of in in to to",
    4: "alpha beta gamma delta epsilon",
    5: "a the is of to in and for on it",
}


def test_matches_pure_python_reference(spark):
    docs = spark.createDataFrame(list(FIX.items()), "doc_id long, text string")
    got = {r.doc_id: (r.n_feat, r.evidence_pm, r.score_pm, r.clf_keep)
           for r in classify.quality_classifier(docs).collect()}
    assert got == _py_classifier(FIX)


def test_stopword_rich_beats_gibberish(spark):
    """The trained model must score the stopword-dense doc above the
    gibberish one (the label proxy is learnable from these counts)."""
    docs = spark.createDataFrame(list(FIX.items()), "doc_id long, text string")
    s = {r.doc_id: r.score_pm
         for r in classify.quality_classifier(docs).collect()}
    assert s[3] > s[2] and s[5] > s[2]


def test_bucket_counts_merge_in_spark(spark, sf_dir):
    """Per-task partials over ≥ 8 partitions are summed in Spark: the
    driver collects one row per bucket, and the weights equal the
    driver-side pandas merge of the raw partials."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").repartition(8))
    partials = classify.nb_count_partials(docs)
    raw = partials.toPandas()
    assert partials.rdd.getNumPartitions() >= 8
    assert raw["bucket"].duplicated().any()
    want = classify.nb_weight_array(
        raw.groupby("bucket", as_index=False).sum())
    counts = classify.nb_bucket_counts(partials).toPandas()
    assert counts["bucket"].is_unique
    assert len(counts) <= C.NB_BUCKETS
    assert (classify.nb_weight_array(counts) == want).all()


def test_apply_is_broadcast_join(spark):
    docs = spark.createDataFrame(list(FIX.items()), "doc_id long, text string")
    df = classify.classify(docs, classify.nb_train(docs))
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys or "BroadcastExchange" in phys


# ---------------------------------------------------------------- dedup


def test_incremental_equals_cross_split_selfjoin(spark, sf_dir):
    """Two-table banding ≡ the cross-split slice of the self-join
    (the gate claim, asserted here at sf0.001 against the real
    operator instead of SQL)."""
    aug = dedup.augmented_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
    base = aug.where(F.col("doc_id") < 1_000_000)
    new = aug.where(F.col("doc_id") >= 1_000_000)
    inc = dedup.incremental_pairs(base, new).toPandas() \
        .sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    ref = dedup.minhash_lsh_pairs(aug).where(
        (F.col("doc_a") < 1_000_000) & (F.col("doc_b") >= 1_000_000)
    ).toPandas().sort_values(["doc_a", "doc_b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(inc, ref)
    assert len(inc) > 0


def test_incremental_never_pairs_within_a_side(spark):
    """New×new near-dups must NOT be reported (they are next round's
    base-side problem) — the two-table join can't produce them."""
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "an identical pair of new documents right here"),
         (11, "an identical pair of new documents right here")],
        "doc_id long, text string")
    got = dedup.incremental_pairs(base, new).collect()
    assert got == []


def _per_document_reference(texts, W):
    """The per-document loops the batch kernels replaced:
    np.unique(word_hashes_np(text) % B) and a Python stopword count."""
    import numpy as np
    B = C.NB_BUCKETS
    stopset = frozenset(C.STOPWORDS_EN)
    nf, ev = [], []
    allc = np.zeros(B, dtype=np.int64)
    posc = np.zeros(B, dtype=np.int64)
    for text in texts:
        bk = np.unique(dedup.word_hashes_np(text) % B)
        nf.append(len(bk))
        ev.append(int(W[bk].sum()))
        ws = text.split(" ")
        allc[bk] += 1
        if sum(w in stopset for w in ws) * C.NB_STOP_NUM >= len(ws):
            posc[bk] += 1
    return np.array(nf), np.array(ev), allc, posc


def test_batch_kernels_equal_the_per_document_loops():
    import numpy as np
    texts = ["", " ", "a", "a  b", "the cat of a dog", "x" * 70 + " y",
             "héllo wörld the", "日本 語 of", "😀 ok and the", "ß",
             "trailing ", " leading", "Ünïcödé  ünd the a"]
    rng = np.random.default_rng(7)
    W = rng.integers(0, 1000, C.NB_BUCKETS).astype(np.int64)
    nf, ev, allc, posc = _per_document_reference(texts, W)
    got_nf, got_ev = classify._nb_evidence(texts, W)
    got_all, got_pos = classify._nb_counts(texts)
    assert got_nf.tolist() == nf.tolist() and got_ev.tolist() == ev.tolist()
    assert np.array_equal(got_all, allc) and np.array_equal(got_pos, posc)
    # an all-ASCII batch takes the byte path
    ascii_texts = [t for t in texts if t.isascii()]
    nf, ev, allc, posc = _per_document_reference(ascii_texts, W)
    assert classify._nb_evidence(ascii_texts, W)[1].tolist() == ev.tolist()
    assert np.array_equal(classify._nb_counts(ascii_texts)[0], allc)
