"""Input_hint pages table: schema shape, byte-identical extraction,
snapshot dedup, geocode parity, cell stats vs a pandas oracle, and the
merged-gate-entry ≡ component-operator equalities."""

from __future__ import annotations

import numpy as np
import pandas as pd

from .conftest import SF_TEST

from greenexp_r_spark.sources import pages as P
from greenexp_r_spark.operators import pages_ops, textqa
from greenexp_r_spark import constants as C


def test_pages_queries_match_oracle(spark):
    from greenexp_r_spark.registry_pages import build_pages_registry
    from . import oracle_harness
    for name, spec in build_pages_registry().items():
        oracle_harness.compare(spec.spark(spark, SF_TEST),
                               spec.oracle, SF_TEST)


def test_pages_schema_is_exact_input_hint(spark):
    df = P.pages_df(spark, SF_TEST)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("url", "string"), ("warc_ts", "timestamp"),
        ("html", "binary"), ("text", "string"), ("lang", "string")]


def test_extraction_byte_identical_per_url(spark):
    """The input_hint per-row invariant: extract_text(html) == text,
    byte for byte, for EVERY capture row."""
    pages = P.pages_df(spark, SF_TEST)
    ext = pages_ops.extract_text(pages).select("url", "text")
    j = ext.join(pages.select("url", pages["text"].alias("orig")),
                 "url")
    n_bad = j.where(j["text"] != j["orig"]).count()
    assert n_bad == 0
    # and the binary payload really is wrapper + text
    row = pages.limit(1).collect()[0]
    assert bytes(row.html) == (P.HTML_PRE + row.text
                               + P.HTML_POST).encode("utf-8")


def test_extraction_roundtrip_arbitrary_unicode(spark):
    """wrap→encode→decode→strip must be the identity for ANY text,
    including multibyte unicode and markup-looking content (the strip
    is positional, not a search)."""
    texts = ["", "héllo wörld", "日本語のテキスト", "<body></body>",
             "a" * 10_000, "tab\tnl\n mixed   seps",
             "<html><body>nested</body></html>", "emoji 🌳🛰️",
             "null\x00byte" .replace("\x00", ""),  # NUL excluded: not
             # valid in the driver corpus and parquet-hostile
             ]
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string") \
        .withColumn("lang", F.lit("en"))
    pages = P._pages_from_docs(df)
    ext = pages_ops.extract_text(pages)
    j = ext.join(pages.select("url", pages["text"].alias("orig")), "url")
    assert j.where(j["text"] != j["orig"]).count() == 0
    assert ext.count() == pages.count()


def test_snapshot_idempotent_and_tie_free(spark):
    pages = P.pages_df(spark, SF_TEST)
    # capture times are unique per url by construction
    dup_ts = (pages.groupBy("url", "warc_ts").count()
              .where("count > 1").count())
    assert dup_ts == 0
    snap1 = pages_ops.latest_extracted_snapshot(pages)
    snap2 = pages_ops._latest_capture(snap1)
    a = snap1.toPandas().sort_values("url").reset_index(drop=True)
    b = snap2.toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # extraction order is immaterial: extract-first (the optimized
    # gate path) equals extract-after-dedup
    from pyspark.sql import Window, functions as F
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    latest = (pages.withColumn("r", F.row_number().over(w))
              .where("r = 1").drop("r"))
    slow = (pages_ops.extract_text(latest)
            .toPandas().sort_values("url").reset_index(drop=True))
    pd.testing.assert_frame_equal(a[sorted(a.columns)],
                                  slow[sorted(slow.columns)])


def test_latest_snapshot_counts_and_max_ts(spark):
    pages = P.pages_df(spark, SF_TEST)
    snap = pages_ops.latest_extracted_snapshot(pages)
    n_docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").count()
    assert snap.count() == n_docs          # one row per url
    # recrawled urls: snapshot ts must equal the per-url max
    pdf = pages.groupBy("url").agg(
        {"warc_ts": "max", "*": "count"}).toPandas()
    got = snap.select("url", "warc_ts").toPandas()
    m = pdf.merge(got, on="url")
    assert (m["max(warc_ts)"] == m["warc_ts"]).all()
    # capture multiplicity matches the schedule (1 + 1/4 + 1/16)
    assert pages.count() == n_docs + n_docs // 4 + (n_docs + 15) // 16


def test_geocode_matches_world_points(spark):
    """Url-parsed geocoding must land on the same (x, y) the world's
    points table assigns the same ids."""
    from greenexp_r_spark import world
    geo = pages_ops.geocode(
        pages_ops.latest_extracted_snapshot(P.pages_df(spark, SF_TEST)))
    pts = world.points_df(spark, SF_TEST)
    j = geo.select("point_id", "x", "y").join(
        pts.select("point_id", pts["x"].alias("wx"),
                   pts["y"].alias("wy")), "point_id")
    assert j.count() == pts.count()
    assert j.where((j["x"] != j["wx"]) | (j["y"] != j["wy"])).count() == 0


def test_cell_page_stats_vs_pandas_oracle(spark):
    from greenexp_r_spark import world
    got = pages_ops.cell_page_stats(spark, SF_TEST).toPandas()
    geo = pages_ops.geocode(
        pages_ops.latest_extracted_snapshot(P.pages_df(spark, SF_TEST))
    ).select("url", "x", "y").toPandas()
    parks = world.parks_df(spark).select("cx", "cy", "radius").toPandas()
    x = geo["x"].values[:, None]
    y = geo["y"].values[:, None]
    d2 = ((x - parks["cx"].values[None, :]).astype(np.int64) ** 2
          + (y - parks["cy"].values[None, :]).astype(np.int64) ** 2)
    inp = (d2 <= (parks["radius"].values[None, :] ** 2)
           .astype(np.int64)).any(axis=1)
    ref = pd.DataFrame({
        "cell_i": np.floor(geo["x"] / C.CELL_SIZE).astype(np.int64),
        "cell_j": np.floor(geo["y"] / C.CELL_SIZE).astype(np.int64),
        "in_park": inp.astype(np.int64)})
    ref = (ref.groupby(["cell_i", "cell_j"], as_index=False)
           .agg(n_pages=("in_park", "size"), n_in_park=("in_park", "sum")))
    m = (got.sort_values(["cell_i", "cell_j"]).reset_index(drop=True)
         .astype(np.int64))
    r = (ref.sort_values(["cell_i", "cell_j"]).reset_index(drop=True)
         .astype(np.int64))
    pd.testing.assert_frame_equal(m, r)


def test_cell_stats_salted_equals_broadcast(spark):
    """Hot-cell salted shuffle join (the non-broadcast 10^12-scale
    regime) must equal the broadcast plan; threshold 1 forces every
    occupied cell through the salting path."""
    a = (pages_ops.cell_page_stats(spark, SF_TEST)
         .toPandas().sort_values(["cell_i", "cell_j"])
         .reset_index(drop=True))
    b = (pages_ops.cell_page_stats(spark, SF_TEST, salted=True,
                                   hot_threshold=1, n_salt=4)
         .toPandas().sort_values(["cell_i", "cell_j"])
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)


def test_merged_gate_entries_equal_components(spark):
    """The token_profile and text_qa consolidated shapes (now merged
    again into q_text_profile) must
    equal the component operators column-for-column."""
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    prof = textqa.token_profile(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    a = textqa.token_stats(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    b = textqa.token_pieces(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        prof[list(a.columns)], a)
    pd.testing.assert_frame_equal(
        prof[list(b.columns)].drop(columns="doc_id"),
        b.drop(columns="doc_id"))
    qa = textqa.text_qa(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    q = textqa.quality_score(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    l = textqa.lang_id(docs).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(qa[list(q.columns)], q)
    pd.testing.assert_frame_equal(
        qa[list(l.columns)].drop(columns="doc_id"),
        l.drop(columns="doc_id"))


def test_pages_exposure_resumable_from_checkpoint(spark, tmp_path):
    """North_rule: the pages exposure pipeline must be resumable from
    per-partition checkpoints with lineage.  Interrupt after 2 of 4
    url-hash units, resume, and the union must equal a direct run —
    with the per-unit text checksums (byte-identity lineage) recorded
    in the manifest."""
    from greenexp_r_spark.plans import manifest as M
    from greenexp_r_spark.operators import availability
    from pyspark.sql import functions as F

    geo = pages_ops.geocode(
        pages_ops.pages_snapshot(spark, SF_TEST)
    ).select("url", "point_id", "x", "y", "text")
    run = M.CheckpointedRun(base_dir=str(tmp_path), run_id="pages1",
                            n_parts=4)

    def transform(unit):
        return availability.ndvi_zonal(unit, add_sd=False)

    calls = {"n": 0}

    def failing(unit):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("interrupt")
        return transform(unit)

    try:
        M.run_checkpointed(spark, geo, failing, run, key_col="url")
    except RuntimeError:
        pass
    assert len(M.completed_parts(spark, run)) == 2
    res = M.run_checkpointed(spark, geo, transform, run, key_col="url")
    assert len(res["computed"]) == 2 and len(res["skipped"]) == 2
    out = spark.read.parquet(f"{tmp_path}/part=*")
    direct = transform(geo)
    assert out.count() == direct.count()
    assert (out.join(direct, "point_id", "left_anti").count() == 0)
    # lineage rows: one per unit, with text checksums + row counts
    man = spark.read.schema(M.MANIFEST_SCHEMA).json(
        run.manifest_dir).toPandas()
    assert len(man) == 4
    assert (man["rows_out"] > 0).all()
    # the byte-identity lineage check: no text drift
    assert M.verify_text_invariant(spark, geo, run,
                                   key_col="url").count() == 0


def test_exposure_over_pages_matches_families(spark):
    """The url-keyed exposure join must agree with the family
    operators run on the equivalent points table."""
    from greenexp_r_spark import world
    from greenexp_r_spark.operators import availability, accessibility
    exp = pages_ops.exposure_over_pages(spark, SF_TEST).toPandas()
    pts = world.points_df(spark, SF_TEST)
    av = availability.ndvi_zonal(pts).toPandas()
    ac = accessibility.euclidean_access(pts, world.parks_df(spark)
                                        ).toPandas()
    pid = exp["url"].str.extract(r"page/(\d+)$")[0].astype(np.int64)
    exp = exp.assign(point_id=pid)
    m = exp.merge(av, on="point_id", suffixes=("", "_av")).merge(
        ac, on="point_id", suffixes=("", "_ac"))
    assert len(m) == len(exp)
    assert np.array_equal(m["mean_ndvi"].values, m["mean_ndvi_av"].values)
    assert np.array_equal(m["closest_greenspace"].values,
                          m["closest_greenspace_ac"].values)
    assert (m["greenspace_in_buffer"]
            == m["greenspace_in_buffer_ac"]).all()


def test_documents_reader_on_mistyped_columns(spark, tmp_path):
    """The declared schema is what a build sees: a documents file whose
    doc_id is stored as strings builds with BIGINT ids and fails when
    read, with Spark's typed parquet mismatch; an INT32 n_chars is
    widened to BIGINT."""
    docs = {"doc_id": [1, 2], "text": ["a", "b"], "lang": ["en", "en"],
            "source": ["s", "s"], "n_chars": [1, 1]}
    bad = tmp_path / "bad"
    bad.mkdir()
    pd.DataFrame(dict(docs, doc_id=["1", "2"])).to_parquet(
        bad / "documents.parquet", index=False)
    df = P.documents_df(spark, str(bad))
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,lang:string,source:string,"
        "n_chars:bigint>")
    try:
        df.collect()
        raise AssertionError("a string doc_id was read as BIGINT")
    except Exception as e:    # py4j wraps the SparkException
        assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in str(e)
    narrow = tmp_path / "narrow"
    narrow.mkdir()
    pd.DataFrame(dict(docs, n_chars=pd.array([3, 4], dtype="int32"))) \
        .to_parquet(narrow / "documents.parquet", index=False)
    got = P.documents_df(spark, str(narrow)).orderBy("doc_id").collect()
    assert [(r.doc_id, r.n_chars) for r in got] == [(1, 3), (2, 4)]
