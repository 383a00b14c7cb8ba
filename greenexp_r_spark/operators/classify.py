"""Trained hashed-feature quality classifier — the model-based filter
step of CCNet / GPT-3 / Llama pipelines (a fastText-style linear
classifier over hashed bag-of-words features, trained to separate a
"target domain" from raw crawl).

The model here is a Bernoulli Naive-Bayes evidence scorer trained in
ONE distributed counting pass (no gradient loop), which keeps the
whole train→apply pipeline exactly replayable in ANSI SQL — the
Lloyd-kmeans-in-SQL precedent (similarity.ivf_topk_trained):

  * features: distinct hashed-word buckets per document
    (word_hash % NB_BUCKETS — the hashing trick; the feature space is
    FIXED-size regardless of corpus scale);
  * labels: an integer-only heuristic proxy for "natural language"
    (stopword_cnt * NB_STOP_NUM >= n_tokens — the CCNet trick of
    using an automatic noisy label source instead of human labels);
  * training: per-bucket document frequencies in each class — two
    hash aggregates, map-side partial, shuffle keyed by bucket
    (bounded by NB_BUCKETS distinct keys);
  * weight: the Laplace-smoothed per-bucket posterior in integer
    micro-units, (SCALE*(n_pos+1)) div (n_all+2) — integer division
    so Spark and the DuckDB oracle agree bit-for-bit (float log-odds
    would differ in the last ulp across engines);
  * apply: explode distinct buckets → BROADCAST join the ≤NB_BUCKETS
    weight table → one doc_id-keyed sum.  The corpus never shuffles
    against the model.

100 TB posture: the model is dimension-sized BY CONSTRUCTION
(NB_BUCKETS rows, whatever the corpus size), so apply is a broadcast
hash join + one aggregate; training shuffles only (bucket, class)
partial counts.  All expressions are JVM whole-stage codegen — no
Python anywhere.

Reference analog: none in GreenExp_R (this is from the LLM-pipeline
brief); the shape follows CCNet (Wenzek et al. 2020 §4.2) and the
GPT-3 appendix-A quality classifier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import constants as C
from ..functions import text as T


def doc_features(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket) — DISTINCT hashed-word buckets per document
    (Bernoulli presence features, the hashing trick)."""
    toks = docs.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w"))
    return toks.select(
        "doc_id",
        (T.word_hash(F.col("w")) % C.NB_BUCKETS).alias("bucket")
    ).distinct()


def _features_labeled(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, bucket) distinct — features AND the per-doc label
    in ONE scan.  The label is functionally dependent on doc_id, so
    carrying it through the explode costs nothing and saves the
    corpus-sized features⋈labels shuffle a two-pass train would pay."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    stop = F.size(F.filter(w, lambda x: x.isin(C.STOPWORDS_EN))) \
        .cast("long")
    base = docs.select(
        "doc_id", (stop * C.NB_STOP_NUM >= n_tok).alias("pos"),
        F.explode(w).alias("w"))
    return base.select(
        "doc_id", "pos",
        (T.word_hash(F.col("w")) % C.NB_BUCKETS).alias("bucket")
    ).distinct()


def _weights_from(fl: DataFrame) -> DataFrame:
    counts = fl.groupBy("bucket").agg(
        F.sum(F.when(F.col("pos"), F.lit(1)).otherwise(F.lit(0)))
         .cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n_all"))
    w = F.expr(
        f"(CAST({C.NB_SCALE} AS BIGINT) * (n_pos + 1)) DIV (n_all + 2)")
    return counts.select("bucket", "n_pos", "n_all",
                         w.alias("weight_pm"))


def nb_train(docs: DataFrame) -> DataFrame:
    """One-pass count training → (bucket, n_pos, n_all, weight_pm).

    weight_pm is the Laplace posterior P(pos | bucket present) in
    integer micro-units: (SCALE*(n_pos+1)) div (n_all+2)."""
    return _weights_from(_features_labeled(docs))


def _apply(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """Broadcast-apply a trained weight table to a (doc_id, bucket)
    feature set: (doc_id, n_feat, evidence_pm, score_pm, clf_keep) —
    score_pm = mean per-feature posterior in micro-units; keep when
    the mean posterior clears NB_KEEP_PM (0.5).  The single scoring
    expression shared by classify() and quality_classifier()."""
    j = feats.join(F.broadcast(weights.select("bucket", "weight_pm")),
                   "bucket")
    agg = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feat"),
        F.sum("weight_pm").alias("evidence_pm"))
    score = F.expr("evidence_pm DIV n_feat")
    return agg.select(
        "doc_id", "n_feat", "evidence_pm", score.alias("score_pm"),
        (score >= C.NB_KEEP_PM).alias("clf_keep"))


def classify(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Score documents against a trained weight table."""
    return _apply(doc_features(docs), weights)


def quality_classifier(docs: DataFrame) -> DataFrame:
    """Train-and-apply on one corpus — the gate shape.

    r6: two Arrow-batched numpy passes with ZERO corpus-wide shuffles
    (the r5 shape exploded 5M (doc, pos, bucket) rows through a
    corpus-wide distinct + two keyed aggregates — 3.6 s at sf1.0):

      1. TRAIN — per-batch integer count partials over the
         NB_BUCKETS-sized feature space (bucket presence per doc via
         one np.unique over the batch's (doc, bucket) keys; the
         stopword label per doc);
         the partials are summed per bucket in Spark, so the driver
         collects ≤ NB_BUCKETS rows whatever the task count, into the
         weight array (SCALE·(n_pos+1)) // (n_all+2) — same
         positive-integer DIV.
      2. APPLY — the weight array broadcasts (dimension-sized by
         construction) and each doc scores locally: evidence = Σ
         W[distinct buckets], score = evidence // n_feat.

    Bit-exact with the DataFrame formulation (kept below as
    `classify`/`nb_train` for external weight tables): distinct
    bucket sets per doc, exact integer sums, truncating division on
    positive operands."""
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (BooleanType, LongType, StructField,
                                   StructType)

    sel = docs.select("doc_id", "text")
    W = nb_weight_array(nb_bucket_counts(nb_count_partials(sel))
                        .toPandas())
    bc = docs.sparkSession.sparkContext.broadcast(W)

    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("n_feat", LongType()),
        StructField("evidence_pm", LongType()),
        StructField("score_pm", LongType()),
        StructField("clf_keep", BooleanType()),
    ])

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Wv = bc.value
        for pdf in it:
            nfa, eva = _nb_evidence(pdf["text"], Wv)
            sc_ = eva // nfa          # every doc has >= 1 bucket
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_feat": nfa, "evidence_pm": eva, "score_pm": sc_,
                "clf_keep": sc_ >= C.NB_KEEP_PM})

    return sel.mapInPandas(score, out_schema)


def _doc_buckets(texts):
    """(document index, bucket) of each document's distinct feature
    buckets (word hash mod NB_BUCKETS), sorted by document, and each
    word's owning document — one pass over the batch
    (`dedup.batch_word_hashes`), no per-document Python."""
    import numpy as np
    from .dedup import batch_word_hashes
    B = C.NB_BUCKETS
    wh, owner = batch_word_hashes(texts)
    u = np.unique(owner * B + wh % B)
    return u // B, u % B, owner


def _nb_evidence(texts, W):
    """(n_feat, evidence) int64 per document: how many distinct buckets
    it has and the sum of their weights W."""
    import numpy as np
    doc, bk, _ = _doc_buckets(texts)
    nf = np.bincount(doc, minlength=len(texts)).astype(np.int64)
    if not len(bk):                 # an empty batch
        return nf, nf
    # every document has a word, so a bucket: doc runs start at cumsum
    return nf, np.add.reduceat(W[bk], np.cumsum(nf) - nf).astype(np.int64)


def _nb_counts(texts):
    """(n_all, n_pos) int64 per bucket over a batch: how many documents,
    all and stopword-labelled (stopwords · NB_STOP_NUM ≥ words), have
    a word in it."""
    import numpy as np
    import pandas as pd
    B = C.NB_BUCKETS
    texts = list(texts)
    doc, bk, owner = _doc_buckets(texts)
    words = pd.Series(" ".join(texts).split(" ") if texts else [],
                      dtype=object)
    stop = np.bincount(owner, weights=words.isin(C.STOPWORDS_EN),
                       minlength=len(texts))
    pos = stop * C.NB_STOP_NUM >= np.bincount(owner, minlength=len(texts))
    return (np.bincount(bk, minlength=B).astype(np.int64),
            np.bincount(bk[pos[doc]], minlength=B).astype(np.int64))


def nb_count_partials(docs: DataFrame) -> DataFrame:
    """(bucket, n_pos, n_all) per task of an Arrow pass over (text):
    how many of the task's documents, all and stopword-labelled, have
    a word in each bucket.  Buckets repeat across tasks."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import LongType, StructField, StructType

    B = C.NB_BUCKETS
    cnt_schema = StructType([StructField("bucket", LongType()),
                             StructField("n_pos", LongType()),
                             StructField("n_all", LongType())])

    def counts(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        allc = np.zeros(B, dtype=np.int64)
        posc = np.zeros(B, dtype=np.int64)
        for pdf in it:
            a, p = _nb_counts(pdf["text"])
            allc += a
            posc += p
        nz = np.flatnonzero(allc)
        yield pd.DataFrame({"bucket": nz, "n_pos": posc[nz],
                            "n_all": allc[nz]})

    return docs.select("text").mapInPandas(counts, cnt_schema)


def nb_bucket_counts(partials: DataFrame) -> DataFrame:
    """(bucket, n_pos, n_all) per-task count partials summed per
    bucket: one row per bucket, at most NB_BUCKETS."""
    return partials.groupBy("bucket").agg(
        F.sum("n_pos").alias("n_pos"), F.sum("n_all").alias("n_all"))


def nb_weight_array(counts):
    """NB_BUCKETS-long int64 weights from per-bucket counts (one row
    per bucket): (SCALE·(n_pos+1)) // (n_all+2), 0 where unseen."""
    import numpy as np
    W = np.zeros(C.NB_BUCKETS, dtype=np.int64)
    W[counts["bucket"].to_numpy()] = (
        (C.NB_SCALE * (counts["n_pos"].to_numpy() + 1))
        // (counts["n_all"].to_numpy() + 2))
    return W
