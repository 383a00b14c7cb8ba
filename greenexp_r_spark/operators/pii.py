"""PII scrubbing for training corpora: detect + redact emails, IPv4
addresses, and phone-like digit runs in page text.

Every production pretraining pipeline runs a pass like this before
tokenization (C4 and the open reproductions redact or drop
PII-bearing spans).  All matching is JVM `regexp_replace` /
`regexp_count` — whole-stage codegen, zero Python, zero shuffle: the
100 TB posture is a narrow map over the corpus.

Redaction order is fixed (EMAIL → IP → PHONE) and documented because
the categories can overlap (a phone pattern could otherwise consume
the octets of an address already matched as an IP).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Java-regex patterns (kept RE2-compatible: no backrefs/lookarounds,
# so a SQL oracle can mirror them verbatim if ever gated)
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IPV4 = (r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}"
           r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b")
RE_PHONE = r"\+?[0-9][0-9()\-\. ]{6,}[0-9]"

TOK_EMAIL, TOK_IP, TOK_PHONE = "<EMAIL>", "<IP>", "<PHONE>"

_RULES = [("email", RE_EMAIL, TOK_EMAIL),
          ("ip", RE_IPV4, TOK_IP),
          ("phone", RE_PHONE, TOK_PHONE)]


def _count(col: Column, pattern: str) -> Column:
    return F.size(
        F.regexp_extract_all(col, F.lit(pattern), F.lit(0))
    ).cast("long")


def scrub_pii(df: DataFrame, col: str = "text") -> DataFrame:
    """Adds `<col>_scrubbed` plus per-category match counts
    (n_email, n_ip, n_phone) and `has_pii`.  Counts are taken on the
    stage the pattern actually sees (post-prior-redactions), matching
    what the replacement removed."""
    out = df
    cur = F.col(col)
    counts = []
    for name, pat, tok in _RULES:
        out = out.withColumn(f"n_{name}", _count(cur, pat))
        cur = F.regexp_replace(cur, pat, tok)
        counts.append(F.col(f"n_{name}"))
    total = counts[0] + counts[1] + counts[2]
    return (out.withColumn(f"{col}_scrubbed", cur)
            .withColumn("has_pii", total > 0))


# ------------------------------------------------- gate augmentation
# The synthetic corpus is PII-free (tests/test_pii.py asserts zero
# corpus rates), so the correctness gate proves detector/redactor
# parity on a deterministically AUGMENTED text instead: doc_id-keyed
# residues inject an email into every 7th document, an IPv4 into
# every 11th and a phone into every 13th (doc_id % 13 == 3) — the
# dedup.augmented_corpus precedent.  The SQL oracle rebuilds the
# identical string, so the driver's value hash compares Java-regex
# (Spark) and RE2 (DuckDB) behavior on identical inputs, including
# the byte-identical scrubbed text.


def augmented_text(doc_id: Column | None = None,
                   text: Column | None = None) -> Column:
    doc_id = F.col("doc_id") if doc_id is None else doc_id
    text = F.col("text") if text is None else text
    email = F.when(doc_id % 7 == 0, F.concat(
        F.lit(" mail user"), doc_id.cast("string"), F.lit("@ex"),
        (doc_id % 5).cast("string"), F.lit(".org"))).otherwise("")
    ip = F.when(doc_id % 11 == 0, F.concat(
        F.lit(" from 10."), (doc_id % 256).cast("string"),
        F.lit(".0."), (doc_id % 250).cast("string"))).otherwise("")
    phone = F.when(doc_id % 13 == 3, F.concat(
        F.lit(" call +31 20 55"), (doc_id % 100).cast("string"),
        F.lit(" 4321"))).otherwise("")
    return F.concat(text, email, ip, phone)


def gate_columns(doc_id: Column | None = None,
                 text: Column | None = None) -> list:
    """The five PII columns of the q_text_profile gate shape —
    (n_email, n_ip, n_phone, has_pii, text_scrubbed) — chained as
    pure Column expressions over the augmented text, with the same
    stage semantics as scrub_pii (each count sees the prior
    redactions).  Pure JVM regexp: composes into any single-scan
    projection at zero extra cost."""
    cur = augmented_text(doc_id, text)
    cols, raw = [], []
    for name, pat, tok in _RULES:
        c = _count(cur, pat)
        raw.append(c)
        cols.append(c.alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, tok)
    cols.append(((raw[0] + raw[1] + raw[2]) > 0).alias("has_pii"))
    cols.append(cur.alias("text_scrubbed"))
    return cols
