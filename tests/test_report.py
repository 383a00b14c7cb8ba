"""C4 document-rule flags (textqa.c4_*) on planted violations and on
raw text."""

from __future__ import annotations

from pyspark.sql import functions as F

from greenexp_r_spark.operators import textqa


def test_c4_rules_flag_planted_violations(spark):
    rows = [(1, "plain words here"),        # %9==1 -> curly planted
            (2, "plain words here"),        # %17==2 -> lorem planted
            (3, "plain words here"),        # %23==3 -> javascript
            (4, "plain words here"),        # %4==0 -> 3 sentences
            (7, "plain words here")]        # no violation, 1 sentence
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *textqa.c4_gate_columns()).collect()}
    assert out[1]["has_curly"] and not out[1]["c4_keep"]
    assert out[2]["has_lorem"] and not out[2]["c4_keep"]
    assert out[3]["has_js"] and not out[3]["c4_keep"]
    assert out[4]["n_sentences"] >= 3 and out[4]["c4_keep"]
    assert out[7]["n_sentences"] == 1 and not out[7]["c4_keep"]


def test_c4_rules_pure_text_api(spark):
    # the rule columns are usable over RAW text too (production path:
    # no augmentation) — a real curly-brace doc is caught
    df = spark.createDataFrame(
        [(0, "function() { return 1; }. ok. fine. end.")],
        "doc_id long, text string")
    r = df.select("doc_id",
                  *textqa.c4_rule_columns(F.col("text"))).collect()[0]
    assert r["has_curly"] and not r["c4_keep"]
