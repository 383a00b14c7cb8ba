"""Text-analysis operators for the training-data pipeline: token
counting, quality scoring, language ID, document fingerprinting.

All per-document computations are array/higher-order-function
expressions (JVM-side, whole-stage codegen) — the 100 TB posture is
one narrow map stage, zero shuffles, zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import constants as C
from ..functions import text as T

# 131^k mod P31, k = 0..7 — positional weights for the rolling
# fingerprint (a bounded-window polynomial hash).
FP_POWS = [pow(131, k, C.P31) for k in range(8)]


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, mean_token_len) — whitespace
    tokenization; mean length excludes the separators."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    n_chars = F.length("text").cast("long")
    mean_len = ((n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"))
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"), n_chars.alias("n_chars"),
        mean_len.alias("mean_token_len"))


# BPE-ish pre-tokenization classes (the GPT-2-style split of letter
# runs / digit runs / punctuation, minus the unicode categories the
# ASCII corpus doesn't have).  Trivial regexes so Java (Spark) and
# RE2 (DuckDB) agree byte-for-byte.
RE_ALPHA = "[A-Za-z]+"
RE_NUM = "[0-9]+"
RE_OTHER = "[^A-Za-z0-9 ]"


def token_pieces(docs: DataFrame) -> DataFrame:
    """(doc_id, n_alpha, n_num, n_other, n_pieces) — BPE-ish
    pre-tokenizer piece counts (letter runs, digit runs, single
    punctuation marks), all JVM regexp_extract_all."""
    cnt = lambda p: F.size(
        F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))
    ).cast("long")
    na, nn, no = cnt(RE_ALPHA), cnt(RE_NUM), cnt(RE_OTHER)
    return docs.select(
        "doc_id", na.alias("n_alpha"), nn.alias("n_num"),
        no.alias("n_other"), (na + nn + no).alias("n_pieces"))


def token_profile(docs: DataFrame) -> DataFrame:
    """token_stats + token_pieces in ONE narrow projection (single
    scan, zero shuffle) — the consolidated gate shape; the two
    component operators stay independently callable."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    n_chars = F.length("text").cast("long")
    mean_len = ((n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"))
    cnt = lambda p: F.size(
        F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))
    ).cast("long")
    na, nn, no = cnt(RE_ALPHA), cnt(RE_NUM), cnt(RE_OTHER)
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"), n_chars.alias("n_chars"),
        mean_len.alias("mean_token_len"), na.alias("n_alpha"),
        nn.alias("n_num"), no.alias("n_other"),
        (na + nn + no).alias("n_pieces"))


def _marker_count(warr, markers: list[str]):
    lst = ", ".join(f"'{m}'" for m in markers)
    return F.size(F.filter(warr, lambda x: x.isin(markers))).cast("long")


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_cnt, stopword_ratio, quality) —
    length/stopword-ratio heuristics of C4/Gopher-style filters."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    stop = _marker_count(w, C.STOPWORDS_EN)
    ratio = stop.cast("double") / n_tok.cast("double")
    quality = (ratio * 0.5
               + F.least(n_tok, F.lit(100)).cast("double") / 200.0)
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"), stop.alias("stopword_cnt"),
        ratio.alias("stopword_ratio"), quality.alias("quality"))


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, predicted_lang, lang_match) — marker-word n-gram
    heuristic with deterministic argmax tie-break (en > nl > fr)."""
    w = T.words(F.col("text"))
    cnt_en = _marker_count(w, C.LANG_MARKERS["en"])
    cnt_nl = _marker_count(w, C.LANG_MARKERS["nl"])
    cnt_fr = _marker_count(w, C.LANG_MARKERS["fr"])
    g = F.greatest(cnt_en, cnt_nl, cnt_fr)
    pred = (F.when(cnt_en == g, "en")
            .when(cnt_nl == g, "nl")
            .otherwise("fr"))
    return docs.select(
        "doc_id", "lang", pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("lang_match"))


def text_qa(docs: DataFrame) -> DataFrame:
    """quality_score + lang_id in ONE narrow projection (single scan,
    zero shuffle) — the consolidated gate shape."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    stop = _marker_count(w, C.STOPWORDS_EN)
    ratio = stop.cast("double") / n_tok.cast("double")
    quality = (ratio * 0.5
               + F.least(n_tok, F.lit(100)).cast("double") / 200.0)
    cnt_en = _marker_count(w, C.LANG_MARKERS["en"])
    cnt_nl = _marker_count(w, C.LANG_MARKERS["nl"])
    cnt_fr = _marker_count(w, C.LANG_MARKERS["fr"])
    g = F.greatest(cnt_en, cnt_nl, cnt_fr)
    pred = (F.when(cnt_en == g, "en")
            .when(cnt_nl == g, "nl")
            .otherwise("fr"))
    return docs.select(
        "doc_id", "lang", n_tok.alias("n_tokens"),
        stop.alias("stopword_cnt"), ratio.alias("stopword_ratio"),
        quality.alias("quality"), pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("lang_match"))


# ------------------------------------------------------------- C4 rules
# The named document-level cleaning rules of C4 (Raffel et al. 2020,
# §2.2): drop pages containing '{' (source code), the boilerplate
# token 'lorem ipsum', the word 'javascript' (blocked-render
# notices), or fewer than 3 sentences.  The synthetic corpus violates
# none of them, so the gate computes the flags over deterministically
# AUGMENTED text (doc_id residues plant each violation — the
# pii.augmented_text precedent), making every flag nontrivial and the
# Spark-vs-DuckDB string/regex parity real.

C4_MIN_SENTENCES = 3


def c4_augmented(doc_id: Column | None = None,
                 text: Column | None = None) -> Column:
    doc_id = F.col("doc_id") if doc_id is None else doc_id
    text = F.col("text") if text is None else text
    curly = F.when(doc_id % 9 == 1, F.lit(" code { x }")).otherwise("")
    lorem = F.when(doc_id % 17 == 2,
                   F.lit(" lorem ipsum dolor sit")).otherwise("")
    js = F.when(doc_id % 23 == 3,
                F.lit(" please enable javascript to view")).otherwise("")
    sent = (F.when(doc_id % 4 == 0, F.lit(". one more. and another."))
            .otherwise(F.lit(".")))
    return F.concat(text, curly, lorem, js, sent)


def c4_aug_sql(doc: str = "doc_id", text: str = "text") -> str:
    """DuckDB rendering of :func:`c4_augmented` (byte-identical)."""
    return (f"({text}"
            f" || CASE WHEN ({doc}) % 9 = 1 THEN ' code {{ x }}'"
            f" ELSE '' END"
            f" || CASE WHEN ({doc}) % 17 = 2 THEN"
            f" ' lorem ipsum dolor sit' ELSE '' END"
            f" || CASE WHEN ({doc}) % 23 = 3 THEN"
            f" ' please enable javascript to view' ELSE '' END"
            f" || CASE WHEN ({doc}) % 4 = 0 THEN"
            f" '. one more. and another.' ELSE '.' END)")


def c4_rule_columns(aug: Column) -> list:
    """[has_curly, has_lorem, has_js, n_sentences, c4_keep] over an
    (augmented) text column — pure JVM expressions, zero extra scan
    when folded into an existing projection."""
    has_curly = F.instr(aug, "{") > 0
    has_lorem = F.instr(aug, "lorem ipsum") > 0
    has_js = F.instr(aug, "javascript") > 0
    n_sent = F.size(
        F.regexp_extract_all(aug, F.lit("[.!?]"), F.lit(0))).cast("long")
    keep = (~has_curly & ~has_lorem & ~has_js
            & (n_sent >= C4_MIN_SENTENCES))
    return [has_curly.alias("has_curly"), has_lorem.alias("has_lorem"),
            has_js.alias("has_js"), n_sent.alias("n_sentences"),
            keep.alias("c4_keep")]


def c4_gate_columns(doc_id: Column | None = None,
                    text: Column | None = None) -> list:
    return c4_rule_columns(c4_augmented(doc_id, text))


def text_profile(docs: DataFrame, extra=()) -> DataFrame:
    """token_profile + text_qa in ONE narrow projection — the r5
    slot-consolidation (both merged shapes were themselves single-scan
    projections over documents, so the union of their columns still
    costs one scan, zero shuffles).  The component operators stay
    independently callable and are proven equal in
    tests/test_pipeline_queries.py.

    ``extra``: additional Column expressions appended to the
    projection (still the same single scan) — the gate uses it to
    fold the PII columns (operators/pii.gate_columns) into this
    slot."""
    w = T.words(F.col("text"))
    n_tok = F.size(w).cast("long")
    n_chars = F.length("text").cast("long")
    mean_len = ((n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"))
    cnt = lambda p: F.size(
        F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))
    ).cast("long")
    na, nn, no = cnt(RE_ALPHA), cnt(RE_NUM), cnt(RE_OTHER)
    stop = _marker_count(w, C.STOPWORDS_EN)
    ratio = stop.cast("double") / n_tok.cast("double")
    quality = (ratio * 0.5
               + F.least(n_tok, F.lit(100)).cast("double") / 200.0)
    cnt_en = _marker_count(w, C.LANG_MARKERS["en"])
    cnt_nl = _marker_count(w, C.LANG_MARKERS["nl"])
    cnt_fr = _marker_count(w, C.LANG_MARKERS["fr"])
    g = F.greatest(cnt_en, cnt_nl, cnt_fr)
    pred = (F.when(cnt_en == g, "en")
            .when(cnt_nl == g, "nl")
            .otherwise("fr"))
    return docs.select(
        "doc_id", "lang", n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"), mean_len.alias("mean_token_len"),
        na.alias("n_alpha"), nn.alias("n_num"), no.alias("n_other"),
        (na + nn + no).alias("n_pieces"), stop.alias("stopword_cnt"),
        ratio.alias("stopword_ratio"), quality.alias("quality"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("lang_match"), *extra)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1) over
    word n-grams — the rules a Common-Crawl pipeline applies before
    training:

      * ``dup_word_frac``     — fraction of tokens that are repeats of
        an earlier token: (n_tokens − n_distinct) / n_tokens.
      * ``top_bigram_frac``   — fraction of characters covered by
        occurrences of the MOST FREQUENT word 2-gram (Gopher's
        "top n-gram character fraction"; overlaps not deduplicated,
        matching the published implementations).  Tie-break: highest
        count, then lexicographically smallest bigram.
      * ``dup_trigram_frac``  — characters covered by word 3-grams
        occurring ≥2 times, over total characters (Gopher's
        "duplicated n-gram character fraction"; coverage summed per
        occurrence, so >1 is possible on degenerate text — kept raw).
      * ``gopher_keep``       — the composite filter verdict.

    All fractions are BIGINT counts divided once at the end
    (cross-engine exactness doctrine).  Plan shape: one narrow scan →
    position explode → three hash aggregates re-joined on doc_id
    (map-side partials; shuffle O(total tokens) — the same shape as
    the dedup shingle pipeline, no all-pairs anywhere).
    """
    from pyspark.sql import Window

    w = T.words(F.col("text"))
    base = docs.select(
        "doc_id", w.alias("warr"),
        F.size(w).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"))
    e = base.withColumn(
        "pos", F.explode(F.sequence(F.lit(1), F.col("n_tokens"))))
    word = F.element_at(F.col("warr"), F.col("pos").cast("int"))
    nxt = F.element_at(F.col("warr"), (F.col("pos") + 1).cast("int"))
    nxt2 = F.element_at(F.col("warr"), (F.col("pos") + 2).cast("int"))
    ex = e.select(
        "doc_id", "n_tokens", "n_chars", "pos", word.alias("word"),
        F.when(F.col("pos") <= F.col("n_tokens") - 1,
               F.concat_ws(" ", word, nxt)).alias("gram2"),
        F.when(F.col("pos") <= F.col("n_tokens") - 2,
               F.concat_ws(" ", word, nxt, nxt2)).alias("gram3"))

    dup = ex.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.first("n_chars").alias("n_chars"),
        F.countDistinct("word").alias("n_distinct"))

    big = (ex.where(F.col("gram2").isNotNull())
           .groupBy("doc_id", "gram2").agg(F.count("*").alias("cnt")))
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram2").asc())
    top = (big.withColumn("rn", F.row_number().over(rk))
           .where(F.col("rn") == 1)
           .select("doc_id", F.col("gram2").alias("top_bigram"),
                   F.col("cnt").alias("top_bigram_cnt")))

    tri = (ex.where(F.col("gram3").isNotNull())
           .groupBy("doc_id", "gram3").agg(F.count("*").alias("cnt"))
           .where(F.col("cnt") >= 2)
           .groupBy("doc_id")
           .agg(F.sum(F.col("cnt") * F.length("gram3"))
                .alias("dup3_chars")))

    j = (dup.join(top, "doc_id", "left").join(tri, "doc_id", "left")
         .select("doc_id", "n_tokens", "n_chars", "n_distinct",
                 F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
                 F.coalesce("top_bigram_cnt", F.lit(0)).cast("long")
                 .alias("top_bigram_cnt"),
                 F.coalesce("dup3_chars", F.lit(0)).cast("long")
                 .alias("dup3_chars")))
    dupf = ((F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.col("n_tokens"))
    topf = ((F.col("top_bigram_cnt") * F.length("top_bigram"))
            .cast("double") / F.col("n_chars"))
    trif = F.col("dup3_chars").cast("double") / F.col("n_chars")
    keep = ((F.col("n_tokens") >= GOPHER_MIN_TOKENS)
            & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
            & (dupf <= GOPHER_MAX_DUP_WORD)
            & (topf <= GOPHER_MAX_TOP_BIGRAM)
            & (trif <= GOPHER_MAX_DUP_TRIGRAM))
    return j.select(
        "doc_id", "n_tokens", dupf.alias("dup_word_frac"),
        "top_bigram", "top_bigram_cnt", topf.alias("top_bigram_frac"),
        trif.alias("dup_trigram_frac"), keep.alias("gopher_keep"))


# Gopher §A1.1-style thresholds, adapted to the synthetic corpus so
# both verdicts occur at every SF (the published ones — e.g. top
# 2-gram fraction ≤0.20 — target real web text).
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 100_000
GOPHER_MAX_DUP_WORD = 0.85
GOPHER_MAX_TOP_BIGRAM = 0.08
GOPHER_MAX_DUP_TRIGRAM = 0.30


def fingerprint_rep(docs: DataFrame) -> DataFrame:
    """fingerprint ⋈ repetition_stats fused into ONE doc-local numpy
    pass (r6) — both are within-document computations, so the r5
    position explode (5M rows at sf1.0), three hash aggregates, the
    per-doc window and the final join are all unnecessary shuffles.
    Zero exchanges: one Arrow-batched map over (doc_id, text).

    Exactness: fingerprint = Σ (wh_i·131^((i−1) mod 8) mod P31) mod
    P31 on exact int64; n_distinct over word STRINGS; the top-bigram
    tie-break (count DESC, bigram ASC) compares UTF-8 BYTES, matching
    Spark/DuckDB binary string order; fractions are int/int divided
    once in float64 (np.float64 division reproduces the NaN/Inf of a
    SQL 0-denominator instead of raising)."""
    import numpy as np
    import pandas as pd
    from collections import Counter
    from collections.abc import Iterator
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    from .dedup import word_hashes_np

    pows = np.array(FP_POWS, dtype=np.int64)
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("fingerprint", LongType()),
        StructField("n_tokens", LongType()),
        StructField("dup_word_frac", DoubleType()),
        StructField("top_bigram", StringType()),
        StructField("top_bigram_cnt", LongType()),
        StructField("top_bigram_frac", DoubleType()),
        StructField("dup_trigram_frac", DoubleType()),
        StructField("gopher_keep", BooleanType()),
    ])

    def fdiv(a, b):
        with np.errstate(divide="ignore", invalid="ignore"):
            return float(np.float64(a) / np.float64(b))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                ws = text.split(" ")
                n = len(ws)
                n_chars = len(text)
                wh = word_hashes_np(text)
                fp = int(((wh * pows[np.arange(n) % 8]) % C.P31)
                         .sum() % C.P31)
                dupf = fdiv(n - len(set(ws)), n)
                if n >= 2:
                    c2 = Counter(zip(ws, ws[1:]))
                    (w1, w2), cnt = min(
                        c2.items(),
                        key=lambda kv: (-kv[1],
                                        (kv[0][0] + " "
                                         + kv[0][1]).encode()))
                    top = w1 + " " + w2
                else:
                    top, cnt = "", 0
                topf = fdiv(cnt * len(top), n_chars)
                dup3 = 0
                if n >= 3:
                    c3 = Counter(zip(ws, ws[1:], ws[2:]))
                    dup3 = sum(
                        c * (len(a) + len(b) + len(cc) + 2)
                        for (a, b, cc), c in c3.items() if c >= 2)
                trif = fdiv(dup3, n_chars)
                keep = bool(GOPHER_MIN_TOKENS <= n <= GOPHER_MAX_TOKENS
                            and dupf <= GOPHER_MAX_DUP_WORD
                            and topf <= GOPHER_MAX_TOP_BIGRAM
                            and trif <= GOPHER_MAX_DUP_TRIGRAM)
                rows.append((did, fp, n, dupf, top, cnt, topf, trif,
                             keep))
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields])

    from ..plans.widen import widen
    return widen(docs.select("doc_id", "text")) \
        .mapInPandas(kernel, schema)


def domain_stats(pages: DataFrame,
                 blocklist: DataFrame | None = None,
                 extra_cols: tuple = (),
                 extra_aggs: tuple = ()) -> DataFrame:
    """(domain, n_pages, total_chars, mean_quality[, blocked]):
    per-domain corpus statistics — the grouping every
    Common-Crawl-style pipeline runs for domain-level filtering (spam
    domains, boilerplate farms).  Domain = host part of the url
    (regexp, JVM-side); quality reuses the quality_score heuristic.
    One hash aggregate; shuffle carries per-domain partials only.
    With `blocklist` (a domain dim table, see domain_blocklist) a
    broadcast left join adds the UT1-style `blocked` flag.
    ``extra_cols``: per-row Columns added to the pre-aggregate
    projection (evaluated ONCE per row — an expensive expression fed
    to several aggregates must come in here, not be inlined into each
    aggregate's input, where it would be re-evaluated per aggregate);
    ``extra_aggs``: additional aggregate Columns over the per-page
    rows (doc_id, url, n_chars, q_micro + extra_cols) folded into the
    SAME aggregate — the text_profile `extra` precedent; the gate
    uses both for the canonical-URL columns (operators/urlnorm.py)."""
    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    q = quality_score(pages.select(F.col("point_id").alias("doc_id"),
                                   "text"))
    # exactness doctrine: the mean is an integer micro-unit sum divided
    # once — never a float AVG (addition order diverges across engines)
    qm = F.round(F.col("quality") * 1_000_000).cast("long")
    j = (pages.select(F.col("point_id").alias("doc_id"), "url",
                      F.length("text").cast("long").alias("n_chars"),
                      *extra_cols)
         .join(q.select("doc_id", qm.alias("q_micro")), "doc_id"))
    g = (j.groupBy(host.alias("domain"))
         .agg(F.count(F.lit(1)).alias("n_pages"),
              F.sum("n_chars").alias("total_chars"),
              F.sum("q_micro").alias("q_sum"),
              *extra_aggs))
    mean_q = (F.col("q_sum").cast("double")
              / (F.lit(1_000_000.0) * F.col("n_pages")))
    out = g.withColumn("mean_quality", mean_q).drop("q_sum")
    if blocklist is not None:
        out = (out.join(F.broadcast(
                   blocklist.withColumn("blocked", F.lit(True))),
                   "domain", "left")
               .withColumn("blocked",
                           F.coalesce("blocked", F.lit(False))))
    return out


def domain_blocklist(pages: DataFrame) -> DataFrame:
    """UT1-style domain blocklist as a genuine dimension TABLE: the
    distinct hosts whose portable hash lands in a residue class (the
    deterministic stand-in for the curated adult/spam host list every
    CC pipeline filters against).  Dimension-sized by construction
    (≤ distinct hosts) → broadcast anti/semi-joins downstream."""
    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    hosts = pages.select(host.alias("domain")).distinct()
    return hosts.where(T.word_hash(F.col("domain")) % 17 == 3)


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — position-weighted polynomial hash over
    word hashes (rolling-hash document signature, window 8).

    Computed with explode + integer aggregate (not a Python loop):
    fp = SUM_i wh(w_i) * 131^((i-1) mod 8)  mod  2^31-1.
    """
    w = T.words(F.col("text"))
    e = (docs.select("doc_id", w.alias("warr"))
         .withColumn("pos", F.explode(F.sequence(F.lit(1), F.size("warr")))))
    wh = T.word_hash(F.element_at(F.col("warr"), F.col("pos").cast("int")))
    pow_arms = F.element_at(
        F.array(*[F.lit(p) for p in FP_POWS]),
        ((F.col("pos") - 1) % 8).cast("int") + 1)
    term = (wh * pow_arms) % C.P31
    return (e.select("doc_id", term.alias("term"))
            .groupBy("doc_id")
            .agg((F.sum("term") % C.P31).alias("fingerprint")))
