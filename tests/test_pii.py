"""PII scrubbing on an engineered fixture (the synthetic corpus has
no PII, so detection is proven on crafted rows and absence on the
real documents table)."""
from __future__ import annotations

from pyspark.sql import functions as F

from greenexp_r_spark.operators import pii

FIX = [
    (0, "contact me at jane.doe+spam@mail.example.org for details"),
    (1, "server at 192.168.0.255 port open, backup 10.0.0.1"),
    (2, "call +31 20 123 4567 or (020) 765-4321 now"),
    (3, "clean text with no identifiers at all"),
    (4, "mix: bob@x.io from 8.8.8.8 dialed 555-123-4567"),
    (5, "not an ip 999.999.999.999 but digits get phone-matched"),
]


def _scrubbed(spark):
    df = spark.createDataFrame(FIX, "doc_id long, text string")
    return {r["doc_id"]: r.asDict()
            for r in pii.scrub_pii(df).collect()}


def test_scrub_counts_and_tokens(spark):
    got = _scrubbed(spark)
    assert got[0]["n_email"] == 1 and got[0]["n_ip"] == 0
    assert "<EMAIL>" in got[0]["text_scrubbed"]
    assert "jane" not in got[0]["text_scrubbed"]

    assert got[1]["n_ip"] == 2
    assert got[1]["text_scrubbed"].count("<IP>") == 2

    assert got[2]["n_phone"] == 2
    assert got[2]["text_scrubbed"].count("<PHONE>") == 2

    assert got[3]["has_pii"] is False
    assert got[3]["text_scrubbed"] == got[3]["text"]

    assert (got[4]["n_email"], got[4]["n_ip"], got[4]["n_phone"]) \
        == (1, 1, 1)
    for tok in ("<EMAIL>", "<IP>", "<PHONE>"):
        assert tok in got[4]["text_scrubbed"]

    # 999.x fails the IPv4 octet rule but the digit run is phone-like
    assert got[5]["n_ip"] == 0 and got[5]["n_phone"] >= 1


def test_redaction_order_ip_before_phone(spark):
    # the IP is redacted before the phone pass, so its octets are
    # never phone-matched
    got = _scrubbed(spark)
    assert "<PHONE>" not in got[1]["text_scrubbed"]


def test_gate_columns_match_scrub_pii(spark, sf_dir):
    # the q_text_profile gate shape (chained Column expressions over
    # the augmented text) must equal running scrub_pii on the same
    # augmented column via withColumn stages
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gate = docs.select("doc_id", *pii.gate_columns()).collect()
    ref = {r["doc_id"]: r.asDict() for r in pii.scrub_pii(
        docs.withColumn("aug", pii.augmented_text()), col="aug"
    ).select("doc_id", "n_email", "n_ip", "n_phone", "has_pii",
             F.col("aug_scrubbed").alias("text_scrubbed")).collect()}
    assert len(gate) == len(ref)
    hit = 0
    for r in gate:
        w = ref[r["doc_id"]]
        for k in ("n_email", "n_ip", "n_phone", "has_pii",
                  "text_scrubbed"):
            assert r[k] == w[k], (r["doc_id"], k)
        hit += int(r["has_pii"])
    assert hit > 0  # augmentation makes the gate counts nontrivial


def _corpus_stats(df):
    return pii.scrub_pii(df).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ip").alias("n_ip"),
        F.sum("n_phone").alias("n_phone"),
        F.sum(F.col("has_pii").cast("long")).alias("n_docs_with_pii")
    ).collect()[0]


def test_corpus_stats_and_clean_documents(spark, sf_dir):
    df = spark.createDataFrame(FIX, "doc_id long, text string")
    s = _corpus_stats(df)
    assert s["n_docs"] == 6
    assert s["n_email"] == 2 and s["n_ip"] == 3
    assert s["n_docs_with_pii"] == 5

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    c = _corpus_stats(docs)
    assert c["n_email"] == 0 and c["n_ip"] == 0 and c["n_phone"] == 0
