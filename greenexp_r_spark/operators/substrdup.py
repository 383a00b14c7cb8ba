"""Exact-substring deduplication — repeated-span detection/removal.

The Lee et al. 2021 ("Deduplicating Training Data Makes Language
Models Better") preprocessing step: any substring of length >= L that
occurs more than once in the corpus (across documents or within one)
is a duplicated span; every occurrence except the first is marked for
removal.  The reference implementation builds a monolithic suffix
array offline; the distributed-friendly formulation below detects the
same spans through position L-grams, which is exactly equivalent for
span *coverage*: a repeated substring of length M >= L repeats all of
its M-L+1 constituent L-grams, so the union of duplicated-L-gram
spans covers the full repeated region.

Spark-first shape (the 100 TB posture), mirroring the two-phase
hash-first plan of dedup.exact_duplicates:

  * the documents round-robin into plans/widen.pass_tasks tasks (a
    count from the source listing, no Spark job) before the explode:
    the small documents parquet arrives as one scan partition, and the
    O(L·chars) Horner evaluation must run on every core;
  * one narrow positional explode emits (doc_id, pos, h) where h is a
    Horner rolling hash of the L characters at pos — the corpus-wide
    shuffle for the repeat-detection aggregate carries ONLY the
    8-byte hash (Catalyst prunes the substring column out of the
    scan for that branch);
  * the repeated-hash set is duplicate-rate-sized; it re-enters as a
    semi-join and only the CANDIDATE slice carries the actual L-char
    substring into the first-occurrence window (collisions are
    settled on the real bytes, never the hash — same contract as
    exact_duplicates);
  * the keep-first rule is deterministic: occurrences of one
    substring order by (doc_id, pos), rank 1 survives;
  * per-document span accounting is the classic islands-and-gaps
    window (merge overlapping [pos, pos+L) intervals), partitioned
    by doc_id — parallel across documents.

The SQL oracle replays every stage verbatim, so the gate hash pins
the full pipeline including the tie-break and interval-merge rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .. import constants as C
from ..plans.widen import pass_tasks

# minimum duplicated-substring length (characters).  Lee et al. use
# 50 BPE tokens; the synthetic corpus's documents are short, so 20
# chars keeps the gate fixture nontrivial.
SUBSTR_L = 20
# Horner multiplier for the rolling L-gram hash
SUBSTR_MUL = 131


def lgram_hash(text: Column, pos: Column, L: int = SUBSTR_L) -> Column:
    """Horner chain over the L characters at 1-based ``pos`` — mod
    P31 every step so both engines stay inside BIGINT."""
    h = F.lit(0).cast("long")
    for k in range(L):
        ch = F.ascii(F.substring(text, (pos + k).cast("int"), 1))
        h = (h * SUBSTR_MUL + ch) % C.P31
    return h


def lgram_hash_sql(text: str, pos: str, L: int = SUBSTR_L) -> str:
    # seed BIGINT: DuckDB otherwise infers INT32 for the whole Horner
    # chain (ascii() is INT32) and h * MUL overflows at runtime
    h = "CAST(0 AS BIGINT)"
    for k in range(L):
        ch = f"ascii(substr({text}, CAST({pos} + {k} AS INT), 1))"
        h = f"((({h}) * {SUBSTR_MUL} + {ch}) % {C.P31})"
    return h


def substring_dedup(docs: DataFrame, L: int = SUBSTR_L) -> DataFrame:
    """(doc_id, n_chars, n_dup_positions, n_spans, n_dup_chars,
    clean_chars) — per-document accounting of duplicated >=L-char
    spans under the keep-first-occurrence rule."""
    base = (docs.select("doc_id", "text",
                        F.length("text").cast("long").alias("n_chars"))
            .withColumn("n_pos", F.col("n_chars") - (L - 1)))
    eligible = base.where(F.col("n_pos") >= 1)
    eligible = eligible.repartition(pass_tasks(eligible))
    occ = eligible.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(1), F.col("n_pos"))).alias("pos")
    ).select(
        "doc_id", "pos",
        lgram_hash(F.col("text"), F.col("pos"), L).alias("h"),
        F.substring(F.col("text"), F.col("pos").cast("int"), L)
         .alias("sub"))

    # phase 1: repeated hashes (shuffle carries (h) only — sub pruned)
    rep = (occ.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
           .where(F.col("n") > 1).select("h"))
    cand = occ.join(rep, "h", "left_semi")

    # phase 2: first occurrence per REAL substring survives
    wk = Window.partitionBy("sub").orderBy("doc_id", "pos")
    dup = (cand.withColumn("rn", F.row_number().over(wk))
           .where(F.col("rn") > 1)
           .select("doc_id", "pos",
                   (F.col("pos") + L).alias("pend")))

    # islands-and-gaps: merge overlapping/adjacent [pos, pos+L) spans
    wp = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1)
    flagged = dup.withColumn(
        "new_island",
        F.coalesce(F.col("pos") > F.max("pend").over(wp), F.lit(True)))
    wi = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0)
    islands = flagged.withColumn(
        "island", F.sum(F.col("new_island").cast("long")).over(wi))
    spans = (islands.groupBy("doc_id", "island")
             .agg(F.min("pos").alias("s"), F.max("pend").alias("e"),
                  F.count(F.lit(1)).alias("n_hits")))
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("n_hits").alias("n_dup_positions"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_dup_chars"))

    out = (base.select("doc_id", "n_chars")
           .join(per_doc, "doc_id", "left_outer"))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return out.select(
        "doc_id", "n_chars",
        z("n_dup_positions").alias("n_dup_positions"),
        z("n_spans").alias("n_spans"),
        z("n_dup_chars").alias("n_dup_chars"),
        (F.col("n_chars") - z("n_dup_chars")).cast("long")
        .alias("clean_chars"))


def oracle_sql(d, L: int = SUBSTR_L) -> str:
    """DuckDB rendering — every stage of substring_dedup verbatim."""
    h = lgram_hash_sql("text", "pos", L)
    eligible = (f"SELECT doc_id, text, length(text) AS n_chars, "
                f"length(text) - {L - 1} AS n_pos FROM documents "
                f"WHERE length(text) - {L - 1} >= 1")
    occ_src = d.explode_range(eligible, "pos", "1", "n_pos")
    return f"""
WITH occ AS (
  SELECT doc_id, pos, {h} AS h,
         substr(text, CAST(pos AS INT), {L}) AS sub
  FROM ({occ_src}) _o
),
rep AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) > 1),
cand AS (SELECT occ.* FROM occ JOIN rep ON rep.h = occ.h),
dup AS (
  SELECT doc_id, pos, pos + {L} AS pend
  FROM (SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY sub
                                  ORDER BY doc_id, pos) AS rn
        FROM cand) _r
  WHERE rn > 1
),
flagged AS (
  SELECT doc_id, pos, pend,
         COALESCE(pos > MAX(pend) OVER (PARTITION BY doc_id
                  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), TRUE) AS new_island
  FROM dup
),
islands AS (
  SELECT doc_id, pos, pend,
         SUM(CASE WHEN new_island THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
  FROM flagged
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pend) AS e,
         COUNT(*) AS n_hits
  FROM islands GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, SUM(n_hits) AS n_dup_positions,
         COUNT(*) AS n_spans, SUM(e - s) AS n_dup_chars
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_chars AS BIGINT) AS n_chars,
       CAST(COALESCE(p.n_dup_positions, 0) AS BIGINT)
           AS n_dup_positions,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.n_dup_chars, 0) AS BIGINT) AS n_dup_chars,
       CAST(b.n_chars - COALESCE(p.n_dup_chars, 0) AS BIGINT)
           AS clean_chars
FROM (SELECT doc_id, length(text) AS n_chars FROM documents) b
LEFT JOIN per_doc p ON p.doc_id = b.doc_id
"""
