"""URL canonicalization (operators/urlnorm.py): DuckDB bit-parity of
the shared-SQL canonical form over deterministically-augmented crawl
urls, hand fixtures for each rule, and a urllib reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from greenexp_r_spark.dialect import DUCK, SPARK
from greenexp_r_spark.operators import urlnorm as U
from greenexp_r_spark.sources import pages as P

from .conftest import SF_TEST
from .oracle_harness import compare


def _canonical():
    return F.expr(U.canonical_url_sql(SPARK, "url"))


def test_canonical_matches_duckdb_on_augmented(spark):
    pg = P.pages_df(spark, SF_TEST).select(
        "url", F.expr("CAST(regexp_extract(url, 'page/([0-9]+)', 1) "
                      "AS BIGINT)").alias("doc_id"))
    got = pg.select(
        "url", F.expr(U.augment_url_sql(SPARK, "url", "doc_id"))
        .alias("messy"),
        F.expr(U.canonical_url_sql(
            SPARK, U.augment_url_sql(SPARK, "url", "doc_id")))
        .alias("canon"))
    aug = U.augment_url_sql(DUCK, "url", "doc_id")
    compare(got, f"""
WITH pg AS ({P.pages_sql(DUCK)}),
ids AS (SELECT url, CAST(regexp_extract(url, 'page/([0-9]+)', 1)
               AS BIGINT) AS doc_id FROM pg)
SELECT url, {aug} AS messy,
       {U.canonical_url_sql(DUCK, aug)} AS canon
FROM ids""", SF_TEST)


def test_variants_collapse_to_original_canonical(spark):
    pg = P.pages_df(spark, SF_TEST).select(
        "url", F.expr("CAST(regexp_extract(url, 'page/([0-9]+)', 1) "
                      "AS BIGINT)").alias("doc_id"))
    both = pg.select(
        _canonical().alias("c0"),
        F.expr(U.canonical_url_sql(
            SPARK, U.augment_url_sql(SPARK, "url", "doc_id")))
        .alias("c1"),
        F.expr("doc_id % 4").alias("r"))
    # tracked variant keeps its real param; the others are identical
    assert both.where((F.col("r") != 3)
                      & (F.col("c0") != F.col("c1"))).count() == 0
    assert (both.where(F.col("r") == 3)
            .where(F.col("c1") != F.concat(F.col("c0"),
                                           F.lit("?id=7")))
            .count()) == 0


def test_rule_fixtures(spark):
    cases = [
        ("HTTP://Site.Example.org:80/A/b/?utm_source=x&q=1#frag",
         "http://site.example.org/A/b?q=1"),
        ("https://x.org:443/p", "https://x.org/p"),
        ("https://x.org/", "https://x.org"),
        ("https://x.org/p?utm_a=1&utm_b=2", "https://x.org/p"),
        ("https://x.org/p?ref=abc&id=9&fbclid=z", "https://x.org/p?id=9"),
        ("https://x.org/p?gclid=1&&q=2", "https://x.org/p?q=2"),
        ("https://x.org:8080/p", "https://x.org:8080/p"),  # real port
        ("http://x.org:443/p", "http://x.org:443/p"),  # wrong scheme
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(_canonical().alias("c")).collect()]
    assert got == [w for _, w in cases]


# ---------------------------------------------- property vs urllib

def _py_canonical(u: str) -> str:
    """Independent reference canonicalizer built on urllib.parse —
    a second oracle with no shared code or SQL with the operator."""
    from urllib.parse import urlsplit

    s = urlsplit(u.split("#", 1)[0])
    scheme = s.scheme.lower()
    netloc = s.netloc.lower()
    if scheme == "http" and netloc.endswith(":80"):
        netloc = netloc[:-3]
    elif scheme == "https" and netloc.endswith(":443"):
        netloc = netloc[:-4]
    path = s.path[:-1] if s.path.endswith("/") else s.path
    keep = [p for p in s.query.split("&")
            if p and not p.startswith(("utm_", "gclid=", "fbclid=",
                                       "ref="))]
    out = f"{scheme}://{netloc}{path}"
    return out + ("?" + "&".join(keep) if keep else "")


def test_property_matches_urllib(spark):
    """Hypothesis sweep: the shared-SQL canonical form equals an
    independent urllib.parse-based implementation on generated URLs
    (mixed-case hosts/schemes, ports, messy paths/queries/fragments).
    """
    from hypothesis import given, settings, strategies as st

    host_chars = st.sampled_from(list("aBcD3.-x"))
    path_chars = st.sampled_from(list("abC1/._~-"))
    qp = st.sampled_from(
        ["utm_source=a", "utm_x", "gclid=1", "fbclid=2", "ref=z",
         "id=9", "q=a+b", "x=", "", "page=2", "refx=keep", "uutm_a=1"])

    @settings(max_examples=60, deadline=None)
    @given(scheme=st.sampled_from(["http", "https", "HTTP", "Https"]),
           host=st.lists(host_chars, min_size=1, max_size=8),
           port=st.sampled_from(["", ":80", ":443", ":8080"]),
           path=st.lists(path_chars, min_size=0, max_size=10),
           q=st.lists(qp, min_size=0, max_size=4),
           frag=st.sampled_from(["", "#f", "#a/b?c"]))
    def check(scheme, host, port, path, q, frag):
        h = "".join(host).strip(".")
        if not h or ".." in h:
            return
        u = f"{scheme}://{h}{port}/" + "".join(path)
        if q:
            u += "?" + "&".join(q)
        u += frag
        df = spark.createDataFrame([(u,)], "url string")
        got = df.select(_canonical().alias("c")) \
                .collect()[0]["c"]
        assert got == _py_canonical(u), f"url={u!r}"

    check()
