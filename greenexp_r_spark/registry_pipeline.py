"""Registry section 2: training-data pipeline queries (text analysis,
dedup, similarity search, multimodal metadata, events rollup) with
their DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import constants as C
from .dialect import DUCK, Dialect
from .functions import text as T
from .operators import (classify, dedup, multimodal, pii, similarity,
                        splits, textqa)
from .registry import QSpec
from .sources import pages as P


def _docs(spark, sf):
    from .plans.widen import widen
    return widen(P.documents_df(spark, sf))


def _docs_raw(spark, sf):
    """Un-widened documents scan.  Per-query A/B at sf1.0 (best of
    2, warm): widen() pays off only before per-row-HEAVY map stages
    (q_quality_classifier 3.7 s widened vs 25.5 s raw; q_fingerprint
    2.8 vs 3.7); consumers that aggregate immediately or repartition
    internally are faster raw (q_seq_pack 0.31 vs 1.20, q_text_profile
    0.33 vs 0.48, q_line_dedup 1.07 vs 1.98, q_decontaminate 0.38 vs
    0.64, exact dedup 1.0 vs 2.5, multimodal codecs ~1 s less)."""
    return P.documents_df(spark, sf)


def _emb(spark, sf):
    from .plans.widen import widen
    # ~750 KB per task: the ANN variants run many short sequential
    # driver jobs over this frame (Lloyd rounds, collects) — see
    # widen()'s bytes_per_task note
    return widen(spark.read.parquet(f"{sf}/embeddings.parquet"),
                 bytes_per_task=768 * 1024)


def _emb_raw(spark, sf):
    """Un-widened embeddings scan for the embedding near-dup queries:
    their one Python pass (the GEMM band keys) is cheap next to the
    band groupBy that carries the vectors to their buckets, so a wider
    scan buys nothing but an exchange (A/B 5.1 s raw vs 6.1 s widened
    at sf1.0, measured when the verify still pulled the whole corpus
    through toPandas; not re-measured since: no sf1.0 input on the
    4-core host)."""
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _q_dedup_neardup_union(spark, sf):
    """MinHash-LSH + SimHash near-dup pairs + exact-dup groups over
    one augmented-corpus build, tagged by method.  The exact rows
    render the (dup_group_min, doc_id, group_size) groups as
    (doc_a=keeper, doc_b=member, score=group_size) pairs — aligned
    schema, merged r5-late to free the q_substring_dedup slot."""
    from .plans.caching import tracked_persist
    aug = dedup.augmented_corpus(_docs_raw(spark, sf))
    # ONE shingle pass shared by the minhash/simhash/incremental arms
    # (r6: shingles are row-local per doc, so the incremental sides
    # are plain doc_id filters of the same persisted table; r5
    # recomputed the shingle scan four times per query)
    shingles = tracked_persist(dedup.shingle_table(aug))
    ex = dedup.exact_duplicates(aug).select(
        F.lit("exact").alias("method"),
        F.col("dup_group_min").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("group_size").cast("double").alias("score"))
    mh = dedup.minhash_lsh_pairs(aug, sh=shingles).select(
        F.lit("minhash").alias("method"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"))
    sh = dedup.simhash_pairs(aug, sh=shingles).select(
        F.lit("simhash").alias("method"), "doc_a", "doc_b",
        F.col("hamming").cast("double").alias("score"))
    # incremental (cross-corpus) dedup: the synthetic dup rows
    # (doc_id >= 1M) play the NEW crawl batch, the originals the
    # EXISTING keep-set — a genuine two-table band join whose result
    # must equal the cross-split slice of the self-join semantics
    inc = dedup.incremental_pairs(
        aug.where(F.col("doc_id") < 1_000_000),
        aug.where(F.col("doc_id") >= 1_000_000),
        sh_b=shingles.where(F.col("doc_id") < 1_000_000),
        sh_n=shingles.where(F.col("doc_id") >= 1_000_000)).select(
        F.lit("incremental").alias("method"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"))
    return ex.unionByName(mh).unionByName(sh).unionByName(inc)


def _q_quality_classifier(spark, sf):
    """NB evidence scorer + hashed-bigram LM buckets + BM25 relevance
    against the fixed query-term set, joined on doc_id — the three
    model/score-based quality signals of a CCNet-style pipeline over
    one documents table."""
    from .operators import bm25, lmscore
    docs = _docs(spark, sf)
    return (classify.quality_classifier(docs)
            .join(lmscore.lm_buckets(docs), "doc_id")
            .join(bm25.bm25_scores(docs), "doc_id"))


def _q_ann_topk_union(spark, sf):
    """Brute + IVF + k-means-trained-IVF + JL-projected top-k over
    ONE embeddings scan, tagged by variant (cached so the paths share
    the quantized corpus read).  The kmeans variant joined the union
    r5-late, freeing its slot for q_seq_pack; the jl variant (r5
    session 4) proves the dimensionality-reduction transform
    end-to-end (project → exact integer cosine → top-k)."""
    from .plans.caching import tracked_persist
    emb = _emb(spark, sf)
    # ONE quantized corpus shared by all four variants (r6; each
    # variant previously re-ran the milli-unit quantization scan)
    qv = tracked_persist(similarity.quantized(emb))
    # one collect feeds both IVF variants' identical initial centroids
    cent_rows = (qv.where(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
                 .select(F.col("vec_id").alias("list_id"),
                         F.col("q").alias("cq"),
                         F.col("norm2").alias("cn"))
                 .orderBy("list_id").collect())
    brute = similarity.brute_force_topk_numpy(emb, qv=qv).select(
        F.lit("brute").alias("variant"), "query_id", "rank",
        "neighbor_id", "cos_sim")
    ivf = similarity.ivf_topk(emb, qv=qv, cent_rows=cent_rows).select(
        F.lit("ivf").alias("variant"), "query_id", "rank",
        "neighbor_id", "cos_sim")
    km = similarity.ivf_topk_trained(emb, qv=qv,
                                     cent_rows=cent_rows).select(
        F.lit("kmeans").alias("variant"), "query_id", "rank",
        "neighbor_id", "cos_sim")
    jl = similarity.jl_topk(emb, qv=qv).select(
        F.lit("jl").alias("variant"), "query_id", "rank",
        "neighbor_id", "cos_sim")
    return brute.unionByName(ivf).unionByName(km).unionByName(jl)


# ---------------------------------------------------------------------
# text analysis oracles
# ---------------------------------------------------------------------


def _in_list(items):
    return ", ".join(f"'{m}'" for m in items)


def _oracle_quality(d: Dialect) -> str:
    """Component quality CTE body (used by _oracle_corpus_select; the
    gate-facing merged text lives in _oracle_text_profile)."""
    w = d.split("text")
    stop = d.afilter(w, "w", f"w IN ({_in_list(C.STOPWORDS_EN)})")
    return f"""
SELECT doc_id, n_tokens, stopword_cnt,
       CAST(stopword_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS stopword_ratio,
       (CAST(stopword_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
           + CAST(LEAST(n_tokens, 100) AS DOUBLE) / 200.0 AS quality
FROM (
  SELECT doc_id,
         CAST({d.asize(w)} AS BIGINT) AS n_tokens,
         CAST({d.asize(stop)} AS BIGINT) AS stopword_cnt
  FROM documents
) _q
"""


def _oracle_langid(d: Dialect) -> str:
    """Component language-ID CTE body (used by _oracle_corpus_select)."""
    w = d.split("text")
    cnt = {
        lang: f"CAST({d.asize(d.afilter(w, 'w', f'w IN ({_in_list(C.LANG_MARKERS[lang])})'))} AS BIGINT)"
        for lang in ("en", "nl", "fr")
    }
    return f"""
SELECT doc_id, lang,
       CASE WHEN cnt_en = g THEN 'en'
            WHEN cnt_nl = g THEN 'nl'
            ELSE 'fr' END AS predicted_lang,
       (CASE WHEN cnt_en = g THEN 'en'
             WHEN cnt_nl = g THEN 'nl'
             ELSE 'fr' END) = lang AS lang_match
FROM (
  SELECT doc_id, lang, cnt_en, cnt_nl, cnt_fr,
         GREATEST(cnt_en, cnt_nl, cnt_fr) AS g
  FROM (SELECT doc_id, lang, {cnt['en']} AS cnt_en,
               {cnt['nl']} AS cnt_nl, {cnt['fr']} AS cnt_fr
        FROM documents) _c
) _g
"""


def _oracle_classifier(d: Dialect) -> str:
    """Replays the whole train→apply pipeline of
    classify.quality_classifier: distinct hashed-word buckets,
    integer stopword label, Laplace-posterior weights in micro-units
    (integer division), broadcast-apply sum.  All-integer math —
    bit-exact across engines (the Lloyd-kmeans-in-SQL precedent)."""
    w = d.split("text")
    stop = d.afilter(w, "w", f"w IN ({_in_list(C.STOPWORDS_EN)})")
    inner = f"SELECT doc_id, {w} AS warr FROM documents"
    exploded = d.explode_range(inner, "pos", "1", d.asize("warr"))
    wh = T.word_hash_sql(d.elem("warr", "pos"))
    w_pm = d.idiv(f"CAST({C.NB_SCALE} AS BIGINT) * (n_pos + 1)",
                  "n_all + 2")
    score = d.idiv("evidence_pm", "n_feat")
    return f"""
WITH feats AS (
  SELECT DISTINCT doc_id,
         CAST({wh} AS BIGINT) % {C.NB_BUCKETS} AS bucket
  FROM ({exploded}) _t
),
labels AS (
  SELECT doc_id,
         CAST({d.asize(stop)} AS BIGINT) * {C.NB_STOP_NUM}
           >= CAST({d.asize(w)} AS BIGINT) AS pos
  FROM documents
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         COUNT(*) AS n_all
  FROM feats JOIN labels USING (doc_id)
  GROUP BY bucket
),
weights AS (SELECT bucket, {w_pm} AS weight_pm FROM counts),
agg AS (
  SELECT doc_id, COUNT(*) AS n_feat,
         CAST(SUM(weight_pm) AS BIGINT) AS evidence_pm
  FROM feats JOIN weights USING (bucket)
  GROUP BY doc_id
)
SELECT doc_id, n_feat, evidence_pm,
       {score} AS score_pm,
       {score} >= {C.NB_KEEP_PM} AS clf_keep
FROM agg
"""


def _lm_ctes(d: Dialect) -> str:
    """CTE chain ending in lm(doc_id, n_bigrams, lm_score_pm,
    ppl_bucket) — replays lmscore.lm_buckets: hashed-bigram counts
    from the in-domain (stopword-dense) slice, Laplace-smoothed
    integer conditionals, mean per document, fixed bucket cutoffs.
    All-integer math (the word-hash is CAST to BIGINT before the
    shingle multiply — DuckDB ascii() is INT32 and wh*SHINGLE_MUL
    overflows it, the substrdup Horner-chain lesson)."""
    w = d.split("text")
    stop = d.afilter(w, "w", f"w IN ({_in_list(C.STOPWORDS_EN)})")
    label = (f"CAST({d.asize(stop)} AS BIGINT) * {C.LM_STOP_NUM}"
             f" >= CAST({d.asize(w)} AS BIGINT)")

    def bg_rows(where: str) -> str:
        inner = (f"SELECT doc_id, {w} AS warr FROM documents"
                 f" WHERE {d.asize(w)} >= 2{where}")
        exploded = d.explode_range(inner, "p", "1",
                                   f"{d.asize('warr')} - 1")
        wh1 = f"CAST({T.word_hash_sql(d.elem('warr', 'p'))} AS BIGINT)"
        wh2 = f"CAST({T.word_hash_sql(d.elem('warr', 'p + 1'))} AS BIGINT)"
        bg = f"{T.shingle_hash_sql(wh1, wh2)} % {C.LM_BUCKETS}"
        return (f"SELECT doc_id, {bg} AS bg,"
                f" {wh1} % {C.LM_BUCKETS} AS pre"
                f" FROM ({exploded}) _bgr")

    cond = d.idiv(
        f"CAST({C.NB_SCALE} AS BIGINT) * (COALESCE(cnt_bg, 0) + 1)",
        f"COALESCE(cnt_pre, 0) + {C.LM_SMOOTH}")
    return f"""
bg_dom AS ({bg_rows(f" AND ({label})")}),
lm_bg AS (SELECT bg, COUNT(*) AS cnt_bg FROM bg_dom GROUP BY bg),
lm_pre AS (SELECT pre, COUNT(*) AS cnt_pre FROM bg_dom GROUP BY pre),
bg_all AS ({bg_rows("")}),
lm_scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM({cond}) AS BIGINT) AS sum_pm
  FROM bg_all
  LEFT JOIN lm_bg USING (bg)
  LEFT JOIN lm_pre USING (pre)
  GROUP BY doc_id
),
lm AS (
  SELECT d.doc_id,
         COALESCE(s.n_bigrams, 0) AS n_bigrams,
         COALESCE({d.idiv('s.sum_pm', 's.n_bigrams')}, -1)
           AS lm_score_pm,
         CASE WHEN COALESCE({d.idiv('s.sum_pm', 's.n_bigrams')}, -1)
                   >= {C.LM_HEAD_PM} THEN 'head'
              WHEN COALESCE({d.idiv('s.sum_pm', 's.n_bigrams')}, -1)
                   >= {C.LM_TAIL_PM} THEN 'middle'
              ELSE 'tail' END AS ppl_bucket
  FROM documents d LEFT JOIN lm_scored s ON d.doc_id = s.doc_id
)"""


def _oracle_classifier_lm(d: Dialect) -> str:
    """q_quality_classifier oracle: the NB classifier oracle joined
    with the LM-bucket and BM25 CTEs on doc_id (merged-entry
    precedent: multimodal meta+thumbnail)."""
    from .operators import bm25
    terms = ", ".join(f"'{t}'" for t in C.BM25_TERMS)
    return f"""
WITH clf AS ({_oracle_classifier(d)}),
{_lm_ctes(d).lstrip()},{bm25.bm25_ctes(d, terms)}
SELECT c.doc_id, c.n_feat, c.evidence_pm, c.score_pm, c.clf_keep,
       l.n_bigrams, l.lm_score_pm, l.ppl_bucket,
       b.n_hit_terms, b.bm25_micro
FROM clf c JOIN lm l ON c.doc_id = l.doc_id
           JOIN bm25 b ON c.doc_id = b.doc_id
"""


def _pii_aug_sql() -> str:
    """DuckDB rendering of pii.augmented_text — byte-identical to the
    Spark Column expression."""
    return (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN"
        " ' mail user' || CAST(doc_id AS VARCHAR) || '@ex'"
        " || CAST(doc_id % 5 AS VARCHAR) || '.org' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN"
        " ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
        " || CAST(doc_id % 250 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 13 = 3 THEN"
        " ' call +31 20 55' || CAST(doc_id % 100 AS VARCHAR)"
        " || ' 4321' ELSE '' END")


def _pii_stage_ctes() -> str:
    """CTE chain p1→p3 staging the PII counts/redactions exactly like
    pii.scrub_pii (each count sees the prior redactions); assumes a
    preceding CTE `p0(.., pii0)`.  DuckDB regexp_replace needs the
    'g' flag to match Spark's replace-all."""
    stages = []
    prev = "p0"
    for i, (name, pat, tok) in enumerate(pii._RULES, start=1):
        stages.append(
            f"p{i} AS (SELECT *,"
            f" CAST(len(regexp_extract_all(pii{i - 1}, '{pat}'))"
            f" AS BIGINT) AS n_{name},"
            f" regexp_replace(pii{i - 1}, '{pat}', '{tok}', 'g')"
            f" AS pii{i} FROM p{i - 1})")
        prev = f"p{i}"
    return ",\n".join(stages)


def _oracle_text_profile(d: Dialect) -> str:
    """token_profile + text_qa merged (one scan) — the r5
    slot-consolidation; column set is the union of both shapes.
    r5 late: + the PII columns (operators/pii.py) staged over the
    deterministically augmented text."""
    w = d.split("text")
    c = lambda p: f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT)"
    stop = d.afilter(w, "w", f"w IN ({_in_list(C.STOPWORDS_EN)})")
    cnt = {
        lang: f"CAST({d.asize(d.afilter(w, 'w', f'w IN ({_in_list(C.LANG_MARKERS[lang])})'))} AS BIGINT)"
        for lang in ("en", "nl", "fr")
    }
    ns = "CAST(len(regexp_extract_all(c4.c4t, '[.!?]')) AS BIGINT)"
    return f"""
WITH p0 AS (SELECT doc_id AS pii_id, {_pii_aug_sql()} AS pii0
            FROM documents),
{_pii_stage_ctes()},
c4 AS (SELECT doc_id AS c4_id, {textqa.c4_aug_sql()} AS c4t
       FROM documents)
SELECT doc_id, lang, n_tokens, n_chars,
       CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
           AS mean_token_len,
       n_alpha, n_num, n_other, n_alpha + n_num + n_other AS n_pieces,
       stopword_cnt,
       CAST(stopword_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS stopword_ratio,
       (CAST(stopword_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
           + CAST(LEAST(n_tokens, 100) AS DOUBLE) / 200.0 AS quality,
       CASE WHEN cnt_en = g THEN 'en'
            WHEN cnt_nl = g THEN 'nl'
            ELSE 'fr' END AS predicted_lang,
       (CASE WHEN cnt_en = g THEN 'en'
             WHEN cnt_nl = g THEN 'nl'
             ELSE 'fr' END) = lang AS lang_match,
       n_email, n_ip, n_phone,
       (n_email + n_ip + n_phone) > 0 AS has_pii,
       pii3 AS text_scrubbed,
       position('{{' IN c4.c4t) > 0 AS has_curly,
       position('lorem ipsum' IN c4.c4t) > 0 AS has_lorem,
       position('javascript' IN c4.c4t) > 0 AS has_js,
       {ns} AS n_sentences,
       (position('{{' IN c4.c4t) = 0
        AND position('lorem ipsum' IN c4.c4t) = 0
        AND position('javascript' IN c4.c4t) = 0
        AND {ns} >= {textqa.C4_MIN_SENTENCES}) AS c4_keep
FROM (
  SELECT doc_id, lang, n_tokens, n_chars, n_alpha, n_num, n_other,
         stopword_cnt, cnt_en, cnt_nl, cnt_fr,
         GREATEST(cnt_en, cnt_nl, cnt_fr) AS g
  FROM (SELECT doc_id, lang,
               CAST({d.asize(w)} AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars,
               {c(textqa.RE_ALPHA)} AS n_alpha,
               {c(textqa.RE_NUM)} AS n_num,
               {c(textqa.RE_OTHER)} AS n_other,
               CAST({d.asize(stop)} AS BIGINT) AS stopword_cnt,
               {cnt['en']} AS cnt_en, {cnt['nl']} AS cnt_nl,
               {cnt['fr']} AS cnt_fr
        FROM documents) _c
) _g
JOIN p3 ON p3.pii_id = _g.doc_id
JOIN c4 ON c4.c4_id = _g.doc_id
"""


def _oracle_fingerprint_rep(d: Dialect) -> str:
    """fingerprint + Gopher repetition stats (textqa.repetition_stats)
    merged on the same position-explode of documents — the r5 slot
    consolidation keeping the registry at 50.  Every fraction is a
    BIGINT count divided once, written identically on both sides."""
    pow_case = "CASE ((pos - 1) % 8) " + " ".join(
        f"WHEN {k} THEN {p}" for k, p in enumerate(textqa.FP_POWS)) + " END"
    wh = T.word_hash_sql("word")
    inner = (f"SELECT doc_id, {d.split('text')} AS warr, "
             f"CAST({d.asize(d.split('text'))} AS BIGINT) AS n_tokens, "
             f"CAST(length(text) AS BIGINT) AS n_chars FROM documents")
    exploded = d.explode_range(inner, "pos", "1", "n_tokens")
    w0 = d.elem("warr", "pos")
    w1 = d.elem("warr", "pos + 1")
    w2 = d.elem("warr", "pos + 2")
    return f"""
WITH ex AS (
  SELECT doc_id, n_tokens, n_chars, pos, {w0} AS word,
         CASE WHEN pos <= n_tokens - 1
              THEN {w0} || ' ' || {w1} END AS gram2,
         CASE WHEN pos <= n_tokens - 2
              THEN {w0} || ' ' || {w1} || ' ' || {w2} END AS gram3
  FROM ({exploded}) _e
),
fp AS (
  SELECT doc_id, CAST(SUM((CAST({wh} AS BIGINT) * ({pow_case}))
                          % {C.P31}) % {C.P31} AS BIGINT) AS fingerprint
  FROM ex GROUP BY doc_id
),
dup AS (
  SELECT doc_id, MAX(n_tokens) AS n_tokens, MAX(n_chars) AS n_chars,
         CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct
  FROM ex GROUP BY doc_id
),
big AS (
  SELECT doc_id, gram2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ex WHERE gram2 IS NOT NULL GROUP BY doc_id, gram2
),
top AS (
  SELECT doc_id, gram2 AS top_bigram, cnt AS top_bigram_cnt
  FROM (SELECT doc_id, gram2, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram2 ASC) AS rn
        FROM big) _r
  WHERE rn = 1
),
tri AS (
  SELECT doc_id,
         CAST(SUM(cnt * length(gram3)) AS BIGINT) AS dup3_chars
  FROM (SELECT doc_id, gram3, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ex WHERE gram3 IS NOT NULL GROUP BY doc_id, gram3) _g
  WHERE cnt >= 2 GROUP BY doc_id
)
SELECT dup.doc_id, fp.fingerprint, dup.n_tokens,
       CAST(dup.n_tokens - dup.n_distinct AS DOUBLE) / dup.n_tokens
           AS dup_word_frac,
       COALESCE(top.top_bigram, '') AS top_bigram,
       CAST(COALESCE(top.top_bigram_cnt, 0) AS BIGINT)
           AS top_bigram_cnt,
       CAST(COALESCE(top.top_bigram_cnt, 0)
            * length(COALESCE(top.top_bigram, '')) AS DOUBLE)
           / dup.n_chars AS top_bigram_frac,
       CAST(COALESCE(tri.dup3_chars, 0) AS DOUBLE) / dup.n_chars
           AS dup_trigram_frac,
       (dup.n_tokens >= {textqa.GOPHER_MIN_TOKENS}
        AND dup.n_tokens <= {textqa.GOPHER_MAX_TOKENS}
        AND CAST(dup.n_tokens - dup.n_distinct AS DOUBLE) / dup.n_tokens
            <= {textqa.GOPHER_MAX_DUP_WORD}
        AND CAST(COALESCE(top.top_bigram_cnt, 0)
                 * length(COALESCE(top.top_bigram, '')) AS DOUBLE)
            / dup.n_chars <= {textqa.GOPHER_MAX_TOP_BIGRAM}
        AND CAST(COALESCE(tri.dup3_chars, 0) AS DOUBLE) / dup.n_chars
            <= {textqa.GOPHER_MAX_DUP_TRIGRAM}) AS gopher_keep
FROM dup
JOIN fp ON fp.doc_id = dup.doc_id
LEFT JOIN top ON top.doc_id = dup.doc_id
LEFT JOIN tri ON tri.doc_id = dup.doc_id
"""


def _q_fingerprint_rep(s, sf):
    # r6: fused doc-local kernel (widen()s internally) — the explode +
    # three aggregates + window + join shape is kept in textqa for
    # external callers and proven equal in tests
    return textqa.fingerprint_rep(_docs_raw(s, sf))


# ---------------------------------------------------------------------
# dedup oracles
# ---------------------------------------------------------------------


def _oracle_exact_dup(d: Dialect) -> str:
    return f"""
WITH corpus AS ({dedup.corpus_sql()}),
groups AS (
  SELECT text, MIN(doc_id) AS dup_group_min, COUNT(*) AS group_size
  FROM corpus GROUP BY text HAVING COUNT(*) > 1
)
SELECT g.dup_group_min, c.doc_id, g.group_size
FROM corpus c JOIN groups g ON c.text = g.text
"""


def _shingles_sql(d: Dialect) -> str:
    inner = (f"SELECT doc_id, {d.split('text')} AS warr FROM corpus "
             f"WHERE {d.asize(d.split('text'))} >= 2")
    exploded = d.explode_range(inner, "pos", "1",
                               f"{d.asize('warr')} - 1")
    wh1 = T.word_hash_sql(d.elem("warr", "pos"))
    wh2 = T.word_hash_sql(d.elem("warr", "pos + 1"))
    sh = T.shingle_hash_sql(f"CAST({wh1} AS BIGINT)", f"CAST({wh2} AS BIGINT)")
    return f"SELECT DISTINCT doc_id, {sh} AS sh FROM ({exploded}) _s"


def _minhash_ctes(d: Dialect) -> str:
    """CTE chain (assumes a preceding `corpus` CTE) ending in
    mh_pairs(doc_a, doc_b, jaccard) — shared by the pair query and
    the dedup-groups / corpus-select capstones."""
    mh_cols = ",\n         ".join(
        f"MIN({T.minhash_sql('sh', a, b)}) AS mh{j}"
        for j, (a, b) in enumerate(C.MINHASH_PERMS))
    n_bands = len(C.MINHASH_PERMS) // C.MINHASH_BAND_ROWS
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, mh{2 * b} AS h1, mh{2 * b + 1} AS h2 FROM sig"
        for b in range(n_bands))
    return f"""shingles AS ({_shingles_sql(d)}),
sig AS (
  SELECT doc_id, {mh_cols}
  FROM shingles GROUP BY doc_id
),
bands AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.h1 = r.h1 AND l.h2 = r.h2
   AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
  GROUP BY c.doc_a, c.doc_b
),
mh_pairs AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_inter AS DOUBLE)
         / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE)
        / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE)
        >= {C.JACCARD_THRESHOLD}
)"""


def _oracle_minhash_pairs(d: Dialect) -> str:
    return f"""
WITH corpus AS ({dedup.corpus_sql()}),
{_minhash_ctes(d)}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
"""


def _group_ctes(d: Dialect) -> str:
    """CTE chain (assumes corpus + mh_pairs) ending in
    lab(doc_id, group_id): transitive closure of exact ∪ near-dup
    pair edges, group_id = min doc_id of the component."""
    return """ex_groups AS (
  SELECT text, MIN(doc_id) AS rep FROM corpus
  GROUP BY text HAVING COUNT(*) > 1
),
ex_pairs AS (
  SELECT g.rep AS a, c.doc_id AS b
  FROM corpus c JOIN ex_groups g ON c.text = g.text
  WHERE c.doc_id <> g.rep
),
edges AS (
  SELECT a, b FROM ex_pairs UNION SELECT b, a FROM ex_pairs
  UNION SELECT doc_a, doc_b FROM mh_pairs
  UNION SELECT doc_b, doc_a FROM mh_pairs
),
gnodes AS (SELECT DISTINCT a AS n FROM edges),
reach(src, dst) AS (
  SELECT n, n FROM gnodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
lab AS (SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src)"""


def _oracle_dedup_groups(d: Dialect) -> str:
    from .operators import splits
    return f"""
WITH RECURSIVE corpus AS ({dedup.corpus_sql()}),
{_minhash_ctes(d)},
{_group_ctes(d)},
sz AS (SELECT group_id, COUNT(*) AS group_size FROM lab GROUP BY group_id)
SELECT l.group_id, l.doc_id, s.group_size,
       {splits.split_sql('l.group_id')} AS split
FROM lab l JOIN sz s ON l.group_id = s.group_id
"""


def _oracle_corpus_select(d: Dialect) -> str:
    from .operators import sampling
    rate_sql, sampled_sql = sampling.sample_sql()
    return f"""
WITH RECURSIVE corpus AS ({dedup.corpus_sql()}),
{_minhash_ctes(d)},
{_group_ctes(d)},
qual AS ({_oracle_quality(d)}),
lid AS ({_oracle_langid(d)}),
smp AS (SELECT doc_id, {rate_sql} AS sample_rate_pm,
               {sampled_sql} AS sampled FROM documents),
dropped AS (SELECT DISTINCT doc_id FROM lab WHERE doc_id <> group_id)
SELECT q.doc_id, q.quality, l.predicted_lang,
       s.sample_rate_pm, s.sampled,
       {splits.split_sql('q.doc_id')} AS split
FROM qual q JOIN lid l ON q.doc_id = l.doc_id
JOIN smp s ON s.doc_id = q.doc_id
WHERE q.quality > 0.3 AND l.lang_match
  AND q.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def _oracle_simhash_pairs(d: Dialect) -> str:
    bits = C.SIMHASH_BITS
    cnt_cols = ",\n         ".join(
        f"SUM(CASE WHEN (((sh * {a} + {b}) % {C.P31}) & 1) = 1"
        f" THEN 1 ELSE 0 END) AS c{k}"
        for k, (a, b) in enumerate(C.SIMHASH_BIT_PERMS))
    sim = " + ".join(
        f"CASE WHEN c{b} * 2 > n_sh THEN {1 << b} ELSE 0 END"
        for b in range(bits))
    return f"""
WITH corpus AS ({dedup.corpus_sql()}),
shingles AS ({_shingles_sql(d)}),
sums AS (
  SELECT doc_id, COUNT(*) AS n_sh,
         {cnt_cols}
  FROM shingles GROUP BY doc_id
),
sig AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {C.SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------
# similarity oracles
# ---------------------------------------------------------------------

_QUANT = ("SELECT vec_id, list_transform(embedding, "
          "v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q "
          "FROM embeddings")

_NORM = ("SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm2 "
         "FROM quant")


def _cos_sql(dot: str, na: str, nb: str) -> str:
    return (f"CAST({dot} AS DOUBLE) / (sqrt(CAST({na} AS DOUBLE)) "
            f"* sqrt(CAST({nb} AS DOUBLE)))")


def _oracle_brute_topk(d: Dialect) -> str:
    cos = _cos_sql("CAST(list_dot_product(qs.q, c.q) AS BIGINT)",
                   "qs.norm2", "c.norm2")
    return f"""
WITH quant AS ({_QUANT}),
qv AS ({_NORM}),
cand AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM (SELECT * FROM qv WHERE vec_id < {C.ANN_QUERIES}) qs
  JOIN qv c ON c.vec_id <> qs.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {C.ANN_K}
"""


def _oracle_jl_topk(d: Dialect) -> str:
    """Replays project_jl + brute top-k: the ±1 sign matrix from the
    same affine-parity formula as similarity.jl_sign_matrix, the
    projection as an exact BIGINT sum, then the standard ranked-cosine
    shape over the projected vectors."""
    from .operators.similarity import JL_A, JL_B, JL_C, JL_DIMS
    sign = (f"(1 - 2 * ((((t.i - 1) * {JL_A} + js.j * {JL_B} + {JL_C})"
            f" % {C.P31}) & 1))")
    cos = _cos_sql("CAST(list_dot_product(qs.q, c.q) AS BIGINT)",
                   "qs.norm2", "c.norm2")
    return f"""
WITH quant AS ({_QUANT}),
idx AS (SELECT vec_id, q, unnest(generate_series(1, len(q))) AS i
        FROM quant),
js AS (SELECT unnest(generate_series(0, {JL_DIMS - 1})) AS j),
terms AS (
  SELECT t.vec_id, js.j,
         CAST(SUM(t.q[t.i] * {sign}) AS BIGINT) AS p
  FROM idx t CROSS JOIN js
  GROUP BY t.vec_id, js.j
),
proj AS (SELECT vec_id, list(p ORDER BY j) AS q FROM terms
         GROUP BY vec_id),
qv AS (SELECT vec_id, q,
              CAST(list_dot_product(q, q) AS BIGINT) AS norm2
       FROM proj),
cand AS (
  SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM (SELECT * FROM qv WHERE vec_id < {C.ANN_QUERIES}) qs
  JOIN qv c ON c.vec_id <> qs.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {C.ANN_K}
"""


def _oracle_ivf_topk(d: Dialect) -> str:
    cos_c = _cos_sql("CAST(list_dot_product(v.q, ct.q) AS BIGINT)",
                     "v.norm2", "ct.norm2")
    cos_q = _cos_sql("CAST(list_dot_product(qs.q, ct.q) AS BIGINT)",
                     "qs.norm2", "ct.norm2")
    cos = _cos_sql("CAST(list_dot_product(qs.q, a.q) AS BIGINT)",
                   "qs.norm2", "a.norm2")
    return f"""
WITH quant AS ({_QUANT}),
qv AS ({_NORM}),
cent AS (SELECT vec_id AS list_id, q, norm2 FROM qv
         WHERE vec_id % {C.IVF_CENTROID_MOD} = 0),
assign AS (
  SELECT vec_id, q, norm2, list_id FROM (
    SELECT v.vec_id, v.q, v.norm2, ct.list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {cos_c} DESC, ct.list_id ASC) AS rn
    FROM qv v CROSS JOIN cent ct
  ) _a WHERE rn = 1
),
probes AS (
  SELECT query_id, q, norm2, list_id FROM (
    SELECT qs.vec_id AS query_id, qs.q, qs.norm2, ct.list_id,
           ROW_NUMBER() OVER (PARTITION BY qs.vec_id
               ORDER BY {cos_q} DESC, ct.list_id ASC) AS rn
    FROM (SELECT * FROM qv WHERE vec_id < {C.ANN_QUERIES}) qs
    CROSS JOIN cent ct
  ) _p WHERE rn <= {C.IVF_NPROBE}
),
cand AS (
  SELECT qs.query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM probes qs JOIN assign a ON a.list_id = qs.list_id
  WHERE a.vec_id <> qs.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {C.ANN_K}
"""


def _oracle_ivf_kmeans(d: Dialect) -> str:
    """Exact oracle for the k-means-trained IVF (upgrades
    q_ann_ivf_kmeans from rows-only): the Lloyd steps are plain
    aggregates — argmax-cos assignment (same exact integer dot
    products as every similarity oracle), per-(list, dim) AVG (exact:
    integer sums in double), centroid re-quantization with round()
    (ties-away-from-zero in BOTH engines) — so two training iterations
    reproduce Spark's centroids bit-for-bit."""
    cos_c = _cos_sql("CAST(list_dot_product(v.q, ct.cq) AS BIGINT)",
                     "v.norm2", "ct.cn")

    def lloyd(cent_prev: str, tag: str) -> str:
        inner = (f"SELECT v.vec_id, v.q, ct.list_id, "
                 f"ROW_NUMBER() OVER (PARTITION BY v.vec_id "
                 f"ORDER BY {cos_c} DESC, ct.list_id ASC) AS rn "
                 f"FROM qv v CROSS JOIN {cent_prev} ct")
        exploded = d.explode_range(
            f"SELECT vec_id, q, list_id FROM ({inner}) _a{tag} WHERE rn = 1",
            "pos", "1", d.asize("q"))
        return f"""
assign{tag} AS ({exploded}),
means{tag} AS (
  SELECT list_id, pos, AVG(CAST({d.elem('q', 'pos')} AS DOUBLE)) AS mv
  FROM assign{tag} GROUP BY list_id, pos
),
cent{tag} AS (
  SELECT list_id,
         list(CAST(round(mv) AS BIGINT) ORDER BY pos) AS cq
  FROM means{tag} GROUP BY list_id
),
centn{tag} AS (
  SELECT list_id, cq,
         CAST(list_dot_product(cq, cq) AS BIGINT) AS cn
  FROM cent{tag}
)"""

    cos_q = _cos_sql("CAST(list_dot_product(qs.q, ct.cq) AS BIGINT)",
                     "qs.norm2", "ct.cn")
    cos = _cos_sql("CAST(list_dot_product(qs.q, a.q) AS BIGINT)",
                   "qs.norm2", "a.norm2")
    return f"""
WITH quant AS ({_QUANT}),
qv AS ({_NORM}),
cent0 AS (SELECT vec_id AS list_id, q AS cq, norm2 AS cn FROM qv
          WHERE vec_id % {C.IVF_CENTROID_MOD} = 0),
{lloyd('cent0', '1')},
{lloyd('centn1', '2')},
final_assign AS (
  SELECT vec_id, q, norm2, list_id FROM (
    SELECT v.vec_id, v.q, v.norm2, ct.list_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
               ORDER BY {cos_c} DESC, ct.list_id ASC) AS rn
    FROM qv v CROSS JOIN centn2 ct
  ) _f WHERE rn = 1
),
probes AS (
  SELECT query_id, q, norm2, list_id FROM (
    SELECT qs.vec_id AS query_id, qs.q, qs.norm2, ct.list_id,
           ROW_NUMBER() OVER (PARTITION BY qs.vec_id
               ORDER BY {cos_q} DESC, ct.list_id ASC) AS rn
    FROM (SELECT * FROM qv WHERE vec_id < {C.ANN_QUERIES}) qs
    CROSS JOIN centn2 ct
  ) _p WHERE rn <= {C.IVF_NPROBE}
),
cand AS (
  SELECT qs.query_id, a.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM probes qs JOIN final_assign a ON a.list_id = qs.list_id
  WHERE a.vec_id <> qs.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {C.ANN_K}
"""


def _oracle_neardup(d: Dialect) -> str:
    cos = _cos_sql("CAST(list_dot_product(a.q, b.q) AS BIGINT)",
                   "a.norm2", "b.norm2")
    return f"""
WITH quant AS ({_QUANT}),
base AS ({_NORM}),
shifted AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(q, x -> x + {similarity.NEARDUP_SHIFT}) AS q
  FROM quant WHERE vec_id % {similarity.NEARDUP_MOD} = 0
),
shifted_n AS (
  SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm2
  FROM shifted
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM shifted_n)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, {cos} AS cos_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE {cos} >= 0.99
"""


# ---------------------------------------------------------------------
# events rollup + multimodal
# ---------------------------------------------------------------------


def _oracle_neardup_groups(d: Dialect) -> str:
    cos = _cos_sql("CAST(list_dot_product(a.q, b.q) AS BIGINT)",
                   "a.norm2", "b.norm2")
    return f"""
WITH RECURSIVE quant AS ({_QUANT}),
base AS ({_NORM}),
shifted AS (
  SELECT vec_id + 100000 AS vec_id,
         list_transform(q, x -> x + {similarity.NEARDUP_SHIFT}) AS q
  FROM quant WHERE vec_id % {similarity.NEARDUP_MOD} = 0
),
shifted_n AS (
  SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS norm2
  FROM shifted
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM shifted_n),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE {cos} >= 0.99
),
edges AS (SELECT va, vb FROM pairs UNION SELECT vb, va FROM pairs),
gnodes AS (SELECT DISTINCT va AS n FROM edges),
reach(src, dst) AS (
  SELECT n, n FROM gnodes
  UNION
  SELECT r.src, e.vb FROM reach r JOIN edges e ON e.va = r.dst
),
lab AS (SELECT src AS vec_id, MIN(dst) AS group_id FROM reach GROUP BY src),
sz AS (SELECT group_id, COUNT(*) AS group_size FROM lab GROUP BY group_id)
SELECT l.group_id, l.vec_id, s.group_size
FROM lab l JOIN sz s ON l.group_id = s.group_id
"""


def _oracle_events_hourly(d: Dialect) -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
           AS value_sum_micros
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def _q_events_rollup(spark, sf):
    """q_events_hourly + q_events_props consolidated into one union
    entry (r05, freeing the slot the streaming gate entry takes —
    same precedent as q_ann_topk / q_dedup_neardup): aligned
    (kind, hour, event_type, n_events, metric_sum) schema; metric_sum
    is the micro-unit value sum for 'hourly' rows and the JSON-props
    k sum for 'props' rows (hour NULL).

    r5 session 4 adds kind='sessions': the batch gap-sessionizer
    (operators/sessions.py) rolled up by session-start hour —
    n_events = sessions started that hour, metric_sum = events inside
    them (event_type NULL) — giving the sessionization operator a
    driver-exact gate row on the same entry.  Late session 4 folds
    the rest of the behavioral trio into the same aligned schema:
    kind='funnel' (event_type = 'step_i', n_events = users reaching
    the ordinal step) and kind='retention' (hour = cohort-week start
    instant, event_type = the week offset, n_events = retained
    users).  All three ride the one events scan family; the entry is
    HEADLINE but outside the EXPOSURE north-star set.

    r5 session 5 adds kind='attribution': the generic as-of join
    (operators/asof.py — union + one keyed window, DuckDB ASOF JOIN
    oracle) attributing each purchase to the user's most recent
    preceding click/view, rolled up by purchase hour × attributed
    source type; metric_sum = total attribution lag in integer
    microseconds (0 for unattributed, event_type 'none'), and
    kind='spans': the generic range join (operators/rangejoin.py —
    bucketed equi-join, plain-inequality-join oracle) assigning every
    event to its containing session interval, rolled up by event hour
    × type; metric_sum = total offset into the session in integer
    microseconds.  Sessions tile each user's timeline, so every event
    matches exactly one interval — the containment semantics are what
    the hash checks."""
    from .operators import asof as _AS
    from .operators import rangejoin as _RJ
    from .operators import funnel as _FU
    from .operators import retention as _RT
    from .operators import sessions as _SS
    # events: 1M cheap rows straight into aggregations — widen()'s
    # exchange costs more than the scan parallelism it buys (full-row
    # A/B 6.4 s vs 3.5 s; even a props-free narrow widen measured
    # 6.3 s), so events reads stay un-widened
    ev = spark.read.parquet(f"{sf}/events.parquet")
    h = (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                    "event_type")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum(F.round(F.col("value") * 1000000).cast("long"))
              .alias("metric_sum"))
         .select(F.lit("hourly").alias("kind"), "hour", "event_type",
                 "n_events", "metric_sum"))
    hour_t = dict(zip(h.schema.names, h.schema.fields))["hour"].dataType
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    p = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum(k).alias("metric_sum"))
         .select(F.lit("props").alias("kind"),
                 F.lit(None).cast(hour_t).alias("hour"),
                 "event_type", "n_events", "metric_sum"))
    # two arms (sessions, spans) consume the sessionize table —
    # checkpoint it once or each consumer re-runs the user-keyed
    # shuffle + both analytic windows (the netprep.smooth lesson);
    # the table is session-sized (≪ events), so this is scale-safe
    sess = _SS.sessionize_batch(ev).localCheckpoint(eager=False)
    s = (sess
         .groupBy(F.date_trunc("hour", F.col("session_start"))
                  .alias("hour"))
         .agg(F.count(F.lit(1)).alias("n_sessions"),
              F.sum("n_events").cast("long").alias("metric_sum"))
         .select(F.lit("sessions").alias("kind"), "hour",
                 F.lit(None).cast("string").alias("event_type"),
                 F.col("n_sessions").alias("n_events"), "metric_sum"))
    fu = (_FU.funnel_summary(ev)
          .select(F.lit("funnel").alias("kind"),
                  F.lit(None).cast(hour_t).alias("hour"),
                  F.concat(F.lit("step_"), F.col("step"))
                  .alias("event_type"),
                  F.col("n_users").alias("n_events"),
                  F.lit(0).cast("long").alias("metric_sum")))
    rt = (_RT.retention(ev)
          .select(F.lit("retention").alias("kind"),
                  F.timestamp_micros(
                      F.col("cohort_week") * _RT._WEEK_US)
                  .cast(hour_t).alias("hour"),
                  F.col("week_offset").cast("string")
                  .alias("event_type"),
                  F.col("n_users").alias("n_events"),
                  F.lit(0).cast("long").alias("metric_sum")))
    aj = _AS.asof_join(
        ev.filter(F.col("event_type") == "purchase")
          .select("ts", "user_id"),
        ev.filter(F.col("event_type").isin("click", "view"))
          .select("user_id", "ts", "event_type", "event_id"),
        key="user_id", payload=["event_type"], tiebreak="event_id")
    lag_us = (F.unix_micros(F.col("ts").cast("timestamp"))
              - F.unix_micros(F.col("asof_ts").cast("timestamp")))
    at = (aj.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                     F.coalesce(F.col("asof_event_type"),
                                F.lit("none")).alias("event_type"))
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.sum(F.coalesce(lag_us, F.lit(0))).cast("long")
               .alias("metric_sum"))
          .select(F.lit("attribution").alias("kind"),
                  F.col("hour").cast(hour_t).alias("hour"),
                  "event_type", "n_events", "metric_sum"))
    sp_j = _RJ.range_join(
        ev.select("event_id", "ts", "user_id", "event_type"),
        sess.select("user_id", "session_start", "session_end"),
        point_col="ts", lo_col="session_start", hi_col="session_end",
        keys=["user_id"], bucket_width=3_600_000_000)
    off_us = (F.unix_micros(F.col("ts").cast("timestamp"))
              - F.unix_micros(F.col("session_start").cast("timestamp")))
    sp = (sp_j.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                       "event_type")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.sum(off_us).cast("long").alias("metric_sum"))
          .select(F.lit("spans").alias("kind"),
                  F.col("hour").cast(hour_t).alias("hour"),
                  "event_type", "n_events", "metric_sum"))
    return (h.unionByName(p).unionByName(s)
            .unionByName(fu).unionByName(rt).unionByName(at)
            .unionByName(sp))


def _sessions_body() -> str:
    from .operators import sessions as _SS
    return _SS.sessionize_sql()


def _funnel_arm_sql() -> str:
    from .operators import funnel as _FU
    k = len(_FU.FUNNEL_STEPS)
    # zero-filled step axis: the Spark side always emits all k rows
    # (a step nobody reaches counts 0), so the oracle must too — a
    # bare GROUP BY would DROP zero-completion steps and hash-mismatch
    # on any slice where a funnel step has no completing users
    return f"""
SELECT 'funnel' AS kind, CAST(NULL AS TIMESTAMP) AS hour,
       'step_' || CAST(q.step AS VARCHAR) AS event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
       CAST(0 AS BIGINT) AS metric_sum
FROM (SELECT unnest(generate_series(1, {k})) AS step) q
LEFT JOIN (SELECT q2.step AS step, COUNT(*) AS n
           FROM ({_FU.funnel_sql()}) _f,
                (SELECT unnest(generate_series(1, {k})) AS step) q2
           WHERE _f.completed >= q2.step
           GROUP BY q2.step) c ON c.step = q.step"""


def _retention_arm_sql() -> str:
    from .operators import retention as _RT
    return f"""
SELECT 'retention' AS kind,
       make_timestamp(cohort_week * {_RT._WEEK_US}) AS hour,
       CAST(week_offset AS VARCHAR) AS event_type,
       n_users AS n_events, CAST(0 AS BIGINT) AS metric_sum
FROM ({_RT.retention_sql()}) _r"""


def _oracle_events_rollup(d: Dialect) -> str:
    return f"""
SELECT 'hourly' AS kind, date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
           AS metric_sum
FROM events GROUP BY date_trunc('hour', ts), event_type
UNION ALL
SELECT 'props' AS kind, CAST(NULL AS TIMESTAMP) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS metric_sum
FROM events GROUP BY event_type
UNION ALL
SELECT 'sessions' AS kind, date_trunc('hour', session_start) AS hour,
       CAST(NULL AS VARCHAR) AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(n_events) AS BIGINT) AS metric_sum
FROM ({_sessions_body()}) _s
GROUP BY date_trunc('hour', session_start)
UNION ALL
{_funnel_arm_sql()}
UNION ALL
{_retention_arm_sql()}
UNION ALL
SELECT 'attribution' AS kind, date_trunc('hour', l.ts) AS hour,
       COALESCE(r.event_type, 'none') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(COALESCE(epoch_us(l.ts) - epoch_us(r.ts), 0))
            AS BIGINT) AS metric_sum
FROM (SELECT ts, user_id FROM events
      WHERE event_type = 'purchase') l
ASOF LEFT JOIN
     (SELECT user_id, ts, event_type FROM (
        SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type IN ('click', 'view')) _r0
      WHERE rn = 1) r
ON l.user_id = r.user_id AND l.ts >= r.ts
GROUP BY 1, 2, 3
UNION ALL
SELECT 'spans' AS kind, date_trunc('hour', e.ts) AS hour,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(epoch_us(e.ts) - epoch_us(s.session_start))
            AS BIGINT) AS metric_sum
FROM events e JOIN ({_sessions_body()}) s
ON e.user_id = s.user_id
AND e.ts BETWEEN s.session_start AND s.session_end
GROUP BY 1, 2, 3
"""


def _line_dedup_q(spark, sf):
    from .operators import lines as L
    return L.line_dedup(L.with_boiler_lines(_docs_raw(spark, sf)))


def _decontam_q(spark, sf):
    from .operators import decontam
    return decontam.decontaminate(_docs_raw(spark, sf))


def _seq_pack_q(spark, sf):
    from .operators import packing
    return packing.seq_pack(_docs_raw(spark, sf))


def _substrdup_q(spark, sf):
    from .operators import substrdup
    return substrdup.substring_dedup(_docs_raw(spark, sf))


def _oracle_substrdup(d: Dialect) -> str:
    from .operators import substrdup
    return substrdup.oracle_sql(d)


def _seq_pack_oracle(d: Dialect) -> str:
    from .operators import packing
    return packing.oracle_sql(d)


def _oracle_decontam(d: Dialect) -> str:
    """decontam.decontaminate mirrored: same word hashes, same rolling
    5-gram combine, benchmark = 30-word prefixes of doc_id%31==7.
    Short documents are guarded by a FILTER (not arithmetic) because
    Spark sequence(1,0) descends while generate_series(1,0) is empty."""
    from .operators import decontam as DC
    n = DC.NGRAM_N
    ngh = DC.ngram_hash_sql(d, "arr", "pos", n)
    split = d.split("text")

    def grams(src: str) -> str:
        guarded = (f"SELECT doc_id, arr, {d.asize('arr')} - {n - 1}"
                   f" AS n_pos FROM ({src}) _s"
                   f" WHERE {d.asize('arr')} - {n - 1} >= 1")
        return (f"SELECT doc_id, {ngh} AS ngh"
                f" FROM ({d.explode_range(guarded, 'pos', '1', 'n_pos')})"
                f" _e")

    bench_src = (f"SELECT doc_id, list_slice({split}, 1,"
                 f" {DC.BENCH_WORDS}) AS arr FROM documents"
                 f" WHERE doc_id % {DC.BENCH_MOD} = {DC.BENCH_RESIDUE}")
    corp_src = f"SELECT doc_id, {split} AS arr FROM documents"
    return f"""
WITH bset AS (SELECT DISTINCT ngh FROM ({grams(bench_src)}) _b),
cngh AS ({grams(corp_src)}),
agg AS (
  SELECT doc_id, COUNT(DISTINCT ngh) AS n_ngrams,
         COUNT(DISTINCT CASE WHEN ngh IN (SELECT ngh FROM bset)
                             THEN ngh END) AS n_contaminated
  FROM cngh GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN COALESCE(n_ngrams, 0) = 0 THEN 0.0
            ELSE CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
                 / COALESCE(n_ngrams, 0) END AS overlap_frac,
       COALESCE(n_contaminated, 0) > 0 AS contaminated
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
"""


def _q_events_stream_hourly(spark, sf):
    """STREAMING surface inside the gate (VERDICT r04 ask #9): the
    hourly rollup executed as an actual Structured Streaming query —
    readStream → watermark → windowed agg → availableNow drain into a
    memory sink — hash-compared against the BATCH SQL oracle.  Exact
    equality here is the batch≡stream equivalence proof running under
    the driver's own gate instead of only in pytest."""
    import uuid

    from .streaming.events_stream import run_available_now
    return run_available_now(
        spark, f"{sf}/events.parquet",
        table_name=f"evs_gate_{uuid.uuid4().hex[:10]}")


def _oracle_thumbnail(d: Dialect) -> str:
    k = multimodal.THUMB_BLOCKS
    dims = ("SELECT doc_id, text, length(text) AS lt, "
            "32 + 4 * ((length(text) + 26) % 8) AS w0, "
            "32 + 4 * (((length(text) + 26) * 3) % 8) AS h0 "
            "FROM documents")
    px_src = d.explode_range(dims, "i", "0", "h0 * w0 - 1")
    r = d.floori("i / w0")
    c = f"(i - ({r}) * w0)"
    bi = d.floori(f"({r}) / (h0 / {k})")
    bj = d.floori(f"({c}) / (w0 / {k})")
    px = "ascii(substr(text, CAST(i % lt AS INT) + 1, 1))"
    sum_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN bi = {i} AND bj = {j} THEN px ELSE 0 END)"
        f" AS BIGINT) AS s{i}{j}"
        for i in range(k) for j in range(k))
    mean_cols = ",\n       ".join(
        f"CAST(s{i}{j} AS DOUBLE) / ((h0 / {k}) * (w0 / {k})) AS b{i}{j}"
        for i in range(k) for j in range(k))
    return f"""
WITH px AS (
  SELECT doc_id, w0, h0, {bi} AS bi, {bj} AS bj, {px} AS px
  FROM ({px_src}) _p
),
g AS (
  SELECT doc_id, w0, h0,
         {sum_cols}
  FROM px GROUP BY doc_id, w0, h0
)
SELECT doc_id, CAST(w0 AS BIGINT) AS w0, CAST(h0 AS BIGINT) AS h0,
       {mean_cols}
FROM g
"""


def _oracle_frames(d: Dialect) -> str:
    fb = multimodal.FRAME_BYTES
    ev = multimodal.FRAME_SAMPLE_EVERY
    ms = multimodal.FRAME_MS
    pages = ("SELECT doc_id, '<html><body>' || text || '</body></html>'"
             " AS s, length(text) + 26 AS n FROM documents")
    fr = d.explode_range(
        pages, "f", "0",
        d.floori(f"(n + {fb} - 1) / {fb}") + " - 1")
    by = d.explode_range(
        f"SELECT * FROM ({fr}) _f WHERE f % {ev} = 0",
        "i", "1", f"LEAST({fb}, n - f * {fb})")
    return f"""
SELECT 'video' AS kind, doc_id, f AS frame_idx,
       CAST(f * {ms} AS BIGINT) AS ts_ms,
       CAST(LEAST({fb}, MIN(n) - f * {fb}) AS BIGINT) AS frame_bytes,
       CAST(SUM(ascii(substr(s, CAST(f * {fb} + i AS INT), 1)))
            AS BIGINT) AS checksum
FROM ({by}) _b
GROUP BY doc_id, f
"""


def _oracle_audio_segments(d: Dialect) -> str:
    """Generation-rule oracle for the REAL-WAV-codec audio segments
    (operators/multimodal.audio_segments): the engine's rate, counts
    and |sample| sums come out of genuine RIFF bytes; the oracle
    recomputes them from the deterministic synthesis rule — the
    decode_meta px_sum pattern, audio edition."""
    sg = multimodal.AUDIO_SEG_SAMPLES
    ev = multimodal.AUDIO_SEG_EVERY
    mul = multimodal.AUDIO_SAMPLE_MUL
    mod = multimodal.AUDIO_SAMPLE_MOD
    au = ("SELECT doc_id, text, length(text) AS lt, "
          "8000 + (length(text) % 3) * 4000 AS rate, "
          "256 + (length(text) * 3) % 1024 AS ns FROM documents")
    segs = d.explode_range(
        au, "g", "0", d.floori(f"(ns + {sg} - 1) / {sg}") + " - 1")
    by = d.explode_range(
        f"SELECT * FROM ({segs}) _g WHERE g % {ev} = 0",
        "i", "1", f"LEAST({sg}, ns - g * {sg})")
    # GREATEST(lt, 1): empty text degrades to a zero code (ascii of
    # out-of-range substr is 0 in DuckDB), matching synthesize_audio
    sample = (f"(ascii(substr(text, CAST((g * {sg} + i - 1) % "
              f"GREATEST(lt, 1) AS INT) + 1, 1)) * {mul} "
              f"+ g * {sg} + i) % {mod} - {mod // 2}")
    return f"""
SELECT 'audio' AS kind, doc_id, g AS frame_idx,
       CAST({d.idiv(f'g * {sg} * 1000', 'MIN(rate)')} AS BIGINT)
           AS ts_ms,
       CAST(LEAST({sg}, MIN(ns) - g * {sg}) AS BIGINT) AS frame_bytes,
       CAST(SUM(ABS({sample})) AS BIGINT) AS checksum
FROM ({by}) _b
GROUP BY doc_id, g
"""


def _oracle_frames_av(d: Dialect) -> str:
    return (f"{_oracle_frames(d)} UNION ALL {_oracle_audio_segments(d)}")


def _multimodal_frames_av(s, sf):
    docs = _docs_raw(s, sf)          # codec ops repartition internally
    v = (multimodal.frame_samples(docs)
         .select(F.lit("video").alias("kind"), "doc_id", "frame_idx",
                 "ts_ms", "frame_bytes", "checksum"))
    a = (multimodal.audio_segments(docs)
         .select(F.lit("audio").alias("kind"), "doc_id",
                 F.col("seg_idx").alias("frame_idx"), "ts_ms",
                 F.col("n_samples").alias("frame_bytes"),
                 F.col("sum_abs").alias("checksum")))
    return v.unionByName(a)


def _oracle_multimodal(d: Dialect) -> str:
    """Generation-rule oracle for the REAL-codec metadata round-trip
    (operators/multimodal.py synthesize_image → decode_image_real):
    the engine's numbers come out of genuine PNG/JFIF bytes; the
    oracle recomputes them from the deterministic rule, including the
    PNG pixel sum that proves the IDAT decode."""
    dims = ("SELECT doc_id, text, length(text) AS lt, "
            "length(text) + 26 AS n, "
            "8 + (length(text) + 26) % 24 AS w, "
            "8 + ((length(text) + 26) * 5) % 24 AS h "
            "FROM documents")
    png = f"SELECT * FROM ({dims}) _d WHERE n % 2 = 0"
    px_src = d.explode_range(png, "i", "0", "h * w - 1")
    return f"""
WITH dims AS ({dims}),
px AS (
  SELECT doc_id,
         CAST(SUM(ascii(substr(text, CAST(i % lt AS INT) + 1, 1)))
              AS BIGINT) AS s
  FROM ({px_src}) _p GROUP BY doc_id
)
SELECT dims.doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CASE WHEN n % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(8 AS BIGINT) AS bit_depth,
       CAST(CASE WHEN n % 2 = 0 THEN 1 ELSE 3 END AS BIGINT)
           AS n_components,
       CASE WHEN n % 2 = 0 THEN px.s ELSE NULL END AS px_sum
FROM dims LEFT JOIN px ON dims.doc_id = px.doc_id
"""


def _oracle_meta_thumbnail(d: Dialect) -> str:
    """Merged oracle for the consolidated q_multimodal_meta: the
    real-codec metadata round-trip JOINed (doc_id, 1:1) with the
    thumbnail block means — each side is the pre-merge oracle
    verbatim, so the consolidation cannot drift the semantics."""
    return f"""
WITH m AS ({_oracle_multimodal(d)}),
t AS ({_oracle_thumbnail(d)})
SELECT m.*, t.w0, t.h0,
       {", ".join(f"t.b{i}{j}" for i in range(multimodal.THUMB_BLOCKS)
                  for j in range(multimodal.THUMB_BLOCKS))}
FROM m JOIN t ON t.doc_id = m.doc_id
"""


# ---------------------------------------------------------------------
# line dedup (boilerplate removal)
# ---------------------------------------------------------------------


def _oracle_line_dedup(d: Dialect) -> str:
    from .operators import lines as L
    aug = ("'nav home about contact' || chr(10) || text || chr(10)"
           " || CASE WHEN doc_id % 2 = 0 THEN 'copyright example footer'"
           " ELSE 'footer fid ' || CAST(doc_id AS VARCHAR) END"
           " || CASE WHEN doc_id % 5 = 0 THEN"
           " chr(10) || 'subscribe newsletter now' ELSE '' END")
    inner = (f"SELECT doc_id, {d.split('ltext', 'chr(10)')} AS larr, "
             f"CAST({d.asize(d.split('ltext', 'chr(10)'))} AS BIGINT)"
             f" AS n_lines "
             f"FROM (SELECT doc_id, {aug} AS ltext FROM documents) _a")
    exploded = d.explode_range(inner, "pos", "1", "n_lines")
    return f"""
WITH lines AS (
  SELECT doc_id, n_lines, pos, {d.elem('larr', 'pos')} AS line
  FROM ({exploded}) _e
),
boiler AS (
  SELECT line FROM (
    SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line
  ) _f WHERE df > {L.BOILER_MIN_DF}
),
kept AS (
  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
       MAX(n_lines) AS n_lines,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MAX(n_lines) - COUNT(*) AS BIGINT) AS n_removed
FROM kept GROUP BY doc_id
"""


# ---------------------------------------------------------------------
# assembly
# ---------------------------------------------------------------------


def build_pipeline_registry() -> dict[str, QSpec]:
    d = DUCK
    return {
        # token_stats+token_pieces and quality+langid consolidated to
        # one scan each (operators stay separately callable + tested;
        # tests/test_pipeline_queries.py checks merged ≡ components) —
        # frees registry slots for the pages family inside the
        # driver's 50-entry CORRECTNESS window
        # r5: token_profile + text_qa consolidated again into ONE
        # single-scan projection (q_text_profile) — frees a slot for
        # the pytest-only-operator promotions; component equality is
        # pinned in tests/test_pipeline_queries.py
        # r5 late: + PII detect/redact columns (operators/pii.py) —
        # still one scan; the augmented-text trick makes the counts
        # nontrivial on the PII-free synthetic corpus and the
        # text_scrubbed string is a byte-identity proof of the
        # Java-regex ≡ RE2 redaction
        # r5 session 4: + the named C4 document rules (curly brace,
        # lorem ipsum, javascript, min-sentences) over augmented text
        "q_text_profile": QSpec(
            lambda s, sf: textqa.text_profile(
                _docs_raw(s, sf),
                extra=pii.gate_columns() + textqa.c4_gate_columns()),
            _oracle_text_profile(d)),
        # r5: fingerprint consolidated with the Gopher repetition
        # filters (textqa.repetition_stats) — both are position-explode
        # aggregates over the same documents scan; the standalone
        # fingerprint oracle remains for tests
        "q_fingerprint": QSpec(
            _q_fingerprint_rep,
            _oracle_fingerprint_rep(d)),
        # Exact, MinHash-LSH and SimHash dedup consolidated into ONE
        # union entry tagged by `method` — same augmented-corpus scan,
        # aligned (method, doc_a, doc_b, score) schema (r03/r5
        # consolidation precedents; exact joined r5-late, freeing the
        # q_substring_dedup slot)
        "q_dedup_neardup": QSpec(
            _q_dedup_neardup_union,
            f"""SELECT 'exact' AS method, dup_group_min AS doc_a,
                       doc_id AS doc_b, CAST(group_size AS DOUBLE)
                       AS score
                FROM ({_oracle_exact_dup(d)}) _e
                UNION ALL
                SELECT 'minhash' AS method, doc_a, doc_b,
                       jaccard AS score
                FROM ({_oracle_minhash_pairs(d)}) _m
                UNION ALL
                SELECT 'simhash' AS method, doc_a, doc_b,
                       CAST(hamming AS DOUBLE) AS score
                FROM ({_oracle_simhash_pairs(d)}) _s
                UNION ALL
                SELECT 'incremental' AS method, doc_a, doc_b,
                       jaccard AS score
                FROM ({_oracle_minhash_pairs(d)}) _inc
                WHERE doc_a < 1000000 AND doc_b >= 1000000"""),
        # r5 late: trained hashed-feature quality classifier (the
        # CCNet/GPT-3 fastText-filter step) — Bernoulli-NB evidence
        # scorer, one-pass count training, dimension-sized model
        # (≤NB_BUCKETS rows) broadcast-applied; integer micro-unit
        # posteriors so the whole train→apply pipeline is SQL-exact
        # (slot freed by merging q_knn_parks_cells into q_knn_parks)
        # + the hashed-bigram LM quality buckets (operators/lmscore.py,
        # the CCNet KenLM step) joined on doc_id — model-based quality
        # scoring as ONE entry, both models trained in-query
        "q_quality_classifier": QSpec(
            _q_quality_classifier,
            _oracle_classifier_lm(d)),
        # r5 late: exact-substring dedup (Lee et al. 2021) — repeated
        # >=L-char span detection via two-phase hashed position
        # L-grams + keep-first window + islands merge
        # (operators/substrdup.py; slot freed by folding q_dedup_exact
        # into the union above)
        "q_substring_dedup": QSpec(
            lambda s, sf: _substrdup_q(s, sf),
            _oracle_substrdup(d)),
        # capstones: near-dup clusters → canonical keeper; and the
        # composed filter+dedup corpus-selection pipeline
        # + leakage-free split assignment (operators/splits.py): the
        # held-out split keyed on the cluster keeper, so near-dup
        # twins never straddle train/test
        "q_dedup_groups": QSpec(
            lambda s, sf: splits.leakage_free_split(
                dedup.dedup_groups(
                    dedup.augmented_corpus(_docs_raw(s, sf)))),
            _oracle_dedup_groups(d)),
        "q_corpus_select": QSpec(
            lambda s, sf: dedup.corpus_select(_docs(s, sf),
                                              docs_raw=_docs_raw(s, sf)),
            _oracle_corpus_select(d)),
        # r5 late: CCNet/C4-style boilerplate line removal — corpus
        # line frequencies → broadcast anti-join → order-preserving
        # reassembly (operators/lines.py; slot freed by the
        # multimodal meta+thumbnail consolidation)
        "q_line_dedup": QSpec(
            lambda s, sf: _line_dedup_q(s, sf),
            _oracle_line_dedup(d)),
        # r5 late: benchmark decontamination (GPT-3 appendix C shape)
        # — hashed word-5-gram overlap against a broadcast benchmark
        # set synthesized from every 31st document's 30-word prefix
        # (operators/decontam.py; slot freed by the greenspace+canopy
        # cover consolidation in registry.py)
        "q_decontaminate": QSpec(
            lambda s, sf: _decontam_q(s, sf),
            _oracle_decontam(d)),
        # brute (Arrow/numpy matmul, the declared 100 TB baseline) and
        # static-IVF paths consolidated into ONE union entry tagged by
        # `variant` — same schema, same scan — to keep the registry
        # inside the driver's 50-entry window while q_greenspace_holes
        # joins the gate (the r03 consolidation precedents: q_idw,
        # token_profile).  The JVM-expression brute path is separately
        # proven equal in tests/test_ann_numpy.py.
        "q_ann_topk": QSpec(
            _q_ann_topk_union,
            f"""SELECT 'brute' AS variant, query_id, rank, neighbor_id,
                       cos_sim
                FROM ({_oracle_brute_topk(d)}) _b
                UNION ALL
                SELECT 'ivf' AS variant, query_id, rank, neighbor_id,
                       cos_sim
                FROM ({_oracle_ivf_topk(d)}) _i
                UNION ALL
                SELECT 'kmeans' AS variant, query_id, rank,
                       neighbor_id, cos_sim
                FROM ({_oracle_ivf_kmeans(d)}) _k
                UNION ALL
                SELECT 'jl' AS variant, query_id, rank,
                       neighbor_id, cos_sim
                FROM ({_oracle_jl_topk(d)}) _j"""),
        # r5 late: GPT-style sequence packing — two-phase distributed
        # prefix sum (bucket totals -> dimension-sized window ->
        # broadcast -> per-bucket window) vs the flat sequential
        # global-window oracle (operators/packing.py; slot freed by
        # merging the kmeans IVF variant into q_ann_topk above)
        "q_seq_pack": QSpec(
            lambda s, sf: _seq_pack_q(s, sf),
            _seq_pack_oracle(d)),
        "q_embedding_neardup": QSpec(
            lambda s, sf: similarity.neardup_pairs(_emb_raw(s, sf)),
            _oracle_neardup(d)),
        "q_embedding_neardup_groups": QSpec(
            lambda s, sf: similarity.neardup_groups(_emb_raw(s, sf)),
            _oracle_neardup_groups(d)),
        "q_events_rollup": QSpec(_q_events_rollup,
                                 _oracle_events_rollup(d)),
        "q_events_stream_hourly": QSpec(_q_events_stream_hourly,
                                        _oracle_events_hourly(d)),
        # r5 late: meta + thumbnail consolidated into ONE decode pass
        # (multimodal.meta_thumbnail — each payload visited once; the
        # oracle joins the two pre-merge oracles verbatim), freeing
        # the slot q_line_dedup takes below
        "q_multimodal_meta": QSpec(
            lambda s, sf: multimodal.meta_thumbnail(_docs_raw(s, sf)),
            _oracle_meta_thumbnail(d)),
        # video frame-sampling plumbing (every 2nd 256-byte frame)
        # + audio segment sampling through the REAL RIFF/WAV codec
        # (r5s5): kind-tagged union, both arms per-chunk integer
        # features over the same documents scan family
        "q_multimodal_frames": QSpec(
            lambda s, sf: _multimodal_frames_av(s, sf),
            _oracle_frames_av(d)),
    }
