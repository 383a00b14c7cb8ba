"""Line-level dedup (boilerplate removal) and the merged multimodal
meta+thumbnail consolidation."""
from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from greenexp_r_spark.operators import lines, multimodal


def test_line_dedup_removes_boiler_preserves_order(spark):
    rows = []
    for i in range(30):
        body = f"unique body {i}\nsecond line {i}"
        rows.append((i, f"shared header\n{body}\nshared footer"))
    df = spark.createDataFrame(rows, "doc_id long, ltext string")
    out = {r["doc_id"]: r.asDict()
           for r in lines.line_dedup(df, min_df=20).collect()}
    assert len(out) == 30
    for i in range(30):
        r = out[i]
        # header/footer (df=30 > 20) gone; body lines kept in order
        assert r["clean_text"] == f"unique body {i}\nsecond line {i}"
        assert (r["n_lines"], r["n_kept"], r["n_removed"]) == (4, 2, 2)


def test_line_dedup_drops_fully_scrubbed_docs(spark):
    rows = [(i, "only boiler") for i in range(25)]
    rows.append((99, "only boiler\nreal content"))
    df = spark.createDataFrame(rows, "doc_id long, ltext string")
    out = lines.line_dedup(df, min_df=20).collect()
    # the 25 boiler-only docs vanish (C4 empty-doc filter)
    assert [r["doc_id"] for r in out] == [99]
    assert out[0]["clean_text"] == "real content"
    assert out[0]["n_removed"] == 1


def test_line_dedup_threshold_boundary(spark):
    # df == min_df is NOT boilerplate (strictly greater)
    rows = [(i, f"borderline\nbody {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, ltext string")
    out = lines.line_dedup(df, min_df=5).collect()
    assert all(r["clean_text"].startswith("borderline\n") for r in out)
    out2 = lines.line_dedup(df, min_df=4).collect()
    assert all(r["clean_text"] == f"body {r['doc_id']}" for r in out2)


def test_line_dedup_repeated_line_within_doc(spark):
    # a line repeated WITHIN one doc counts that doc once for df and
    # both copies survive at their positions
    df = spark.createDataFrame(
        [(1, "echo\nmiddle\necho")], "doc_id long, ltext string")
    out = lines.line_dedup(df, min_df=1).collect()[0]
    assert out["clean_text"] == "echo\nmiddle\necho"


def test_line_dedup_boiler_join_is_broadcast(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = lines.line_dedup(lines.with_boiler_lines(docs))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan


def test_line_dedup_gate_fixture(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    out = lines.line_dedup(lines.with_boiler_lines(docs))
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(rows) == n_docs          # nothing fully scrubbed
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, r in rows.items():
        assert "nav home about contact" not in r["clean_text"]
        assert "copyright example footer" not in r["clean_text"]
        assert "subscribe newsletter now" not in r["clean_text"]
        assert texts[did] in r["clean_text"]
        if did % 2 == 1:
            assert r["clean_text"].endswith(f"footer fid {did}")


def test_meta_thumbnail_equals_components(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(80)
    merged = multimodal.meta_thumbnail(docs).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    meta = multimodal.decode_meta(docs).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    thumb = multimodal.thumbnail_stats(docs).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(merged[meta.columns.tolist()], meta)
    pd.testing.assert_frame_equal(
        merged[thumb.columns.tolist()], thumb)


def test_codec_partitions_track_document_volume(spark, monkeypatch):
    """The codec-bound mapInPandas operators must not run on the
    single scan partition a small parquet arrives as (measured: the
    per-image codec took 14.6 s single-core at sf0.1), and the target
    must grow with the corpus, not stay fixed at 2x cores."""
    from greenexp_r_spark.plans import widen
    base = max(4, 2 * spark.sparkContext.defaultParallelism)
    docs = spark.createDataFrame(
        [(i, "text body here") for i in range(50)],
        "doc_id long, text string")
    assert multimodal.meta_thumbnail(docs).rdd.getNumPartitions() == base
    n = 1_000_000
    monkeypatch.setattr(widen, "source_bytes",
                        lambda df: n * widen.PASS_ROW_BYTES)
    assert multimodal.meta_thumbnail(docs).rdd.getNumPartitions() == max(
        base, -(-n // widen.PASS_ROWS_PER_TASK))
