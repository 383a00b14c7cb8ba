"""Hashed n-gram language-model quality bucketing — the CCNet step
(Wenzek et al. 2020 §4.3): a small LM is trained on target-domain
text, every crawl document is scored by it, and documents are split
into head / middle / tail quality buckets.

This engine's exact-replayable analog of the KenLM 5-gram model:

  * TRAIN on the in-domain slice of the corpus (stopword-dense
    documents — the NB classifier's automatic-label idea at a ≥10%
    cutoff, LM_STOP_NUM, because the synthetic corpus is stopword-
    sparse and the NB 20% rule keeps too few docs to train on);
  * the model is a HASHED bigram table (the hashing trick again):
    bigram key = shingle_hash(w1, w2) % LM_BUCKETS, prefix key =
    word_hash(w1) % LM_BUCKETS — both tables are dimension-sized BY
    CONSTRUCTION (≤ LM_BUCKETS rows each) and broadcast;
  * the per-position score is the Laplace-smoothed conditional in
    integer micro-units:
        cond_pm = (SCALE * (cnt_bigram + 1)) div (cnt_prefix + SMOOTH)
    so the whole train→apply pipeline is bit-exact in SQL (float
    log-probs would drift in the last ulp across engines);
  * the document score is the MEAN conditional over its bigram
    positions (integer division), and the bucket thresholds are fixed
    constants — the honest analog of CCNet's precomputed percentile
    cutoffs (a distributed percentile would need a global sort the
    real pipeline also avoids by fixing cutoffs per language).

Apply plan shape (100 TB posture): one narrow position explode → two
BROADCAST left joins (bigram counts, prefix counts; unseen n-grams
COALESCE to 0 — the out-of-vocabulary path) → one doc_id-keyed
aggregate.  Zero corpus×corpus joins, zero Python.

Reference analog: none in GreenExp_R (LLM-pipeline brief); shape per
CCNet and the Gopher/Llama data-quality sections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import constants as C
from ..functions import text as T


def _labeled_words(docs: DataFrame) -> DataFrame:
    """(doc_id, pos_label, warr) — the integer in-domain label plus
    the split words array, one scan."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    stop = F.size(F.filter(w, lambda x: x.isin(C.STOPWORDS_EN))) \
        .cast("long")
    return docs.select(
        "doc_id", (stop * C.LM_STOP_NUM >= n_tok).alias("pos_label"),
        w.alias("warr"))


def _bigram_rows(base: DataFrame) -> DataFrame:
    """(doc_id, bg, pre) per bigram position — hashed bigram and
    prefix keys; documents with <2 words never enter the explode
    (FILTER guard, the decontam sequence(1,0) lesson)."""
    n = F.size("warr")
    rows = (base.where(n >= 2)
            .select("doc_id", "warr",
                    F.explode(F.sequence(F.lit(1), n - 1)).alias("p")))
    w1 = F.element_at("warr", F.col("p").cast("int"))
    w2 = F.element_at("warr", (F.col("p") + 1).cast("int"))
    bg = T.shingle_hash(T.word_hash(w1), T.word_hash(w2)) % C.LM_BUCKETS
    pre = T.word_hash(w1) % C.LM_BUCKETS
    return rows.select("doc_id", bg.alias("bg"), pre.alias("pre"))


def lm_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Count the in-domain slice's bigrams → (bigram_table,
    prefix_table), each ≤ LM_BUCKETS rows (broadcastable model)."""
    dom = _labeled_words(docs).where(F.col("pos_label"))
    rows = _bigram_rows(dom)
    bgt = rows.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt_bg"))
    pret = rows.groupBy("pre").agg(F.count(F.lit(1)).alias("cnt_pre"))
    return bgt, pret


def lm_score(docs: DataFrame, bgt: DataFrame,
             pret: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, lm_score_pm, ppl_bucket) — mean smoothed
    conditional in micro-units; <2-word documents get the sentinel
    score -1 and the 'tail' bucket (CCNet drops them too)."""
    rows = _bigram_rows(_labeled_words(docs))
    j = (rows
         .join(F.broadcast(bgt), "bg", "left")
         .join(F.broadcast(pret), "pre", "left"))
    cond = F.expr(
        f"(CAST({C.NB_SCALE} AS BIGINT) * (coalesce(cnt_bg, 0) + 1))"
        f" DIV (coalesce(cnt_pre, 0) + {C.LM_SMOOTH})")
    agg = (j.select("doc_id", cond.alias("cond_pm"))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("cond_pm").alias("sum_pm")))
    score = F.expr("sum_pm DIV n_bigrams")
    scored = agg.select("doc_id", "n_bigrams",
                        score.alias("lm_score_pm"))
    out = (docs.select("doc_id").join(scored, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                   F.coalesce("lm_score_pm", F.lit(-1))
                    .alias("lm_score_pm")))
    bucket = (F.when(F.col("lm_score_pm") >= C.LM_HEAD_PM, "head")
              .when(F.col("lm_score_pm") >= C.LM_TAIL_PM, "middle")
              .otherwise("tail"))
    return out.withColumn("ppl_bucket", bucket)


def lm_buckets(docs: DataFrame) -> DataFrame:
    """Train-and-apply on one corpus — the gate shape."""
    bgt, pret = lm_train(docs)
    return lm_score(docs, bgt, pret)
