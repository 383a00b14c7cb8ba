"""The shared-SQL per-row fragments, each run in Spark and in DuckDB on
the same inputs and compared with a Python reference: url, capture
time, html wrap and extraction (sources/pages.py), page-id parse and
geocode (world.xy_sql), the NDVI mean/sd (availability.ndvi_sql) and
the nearest-park columns (accessibility.nearest_sql).  The references
use Python ints, so they cannot overflow: the doc ids reach 10^12, far
past where an unreduced BIGINT product would wrap."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.dialect import DUCK, SPARK
from greenexp_r_spark.operators import accessibility, availability, pages_ops
from greenexp_r_spark.sources import pages as P

DOC_IDS = [0, 1, 2**31 - 1, 3_500_000_000, 10**12]
TEXTS = ["", "green", "héllo wörld", "日本語のテキスト", "emoji 🌳🛰️",
         "<html><body>nested</body></html>"]
NO_ID_URL = "https://site1.example/about"


def _py_url(doc: int) -> str:
    return f"https://site{doc % 1000}.example/page/{doc}"


def _py_xy(pid: int | None) -> tuple[float | None, float | None]:
    if pid is None:
        return None, None
    return tuple(float(((pid * m + a) % C.P31) % C.WORLD_SIZE)
                 for m, a in ((C.X_MUL, C.X_ADD), (C.Y_MUL, C.Y_ADD)))


def _py_capture_us(doc: int, gen: int) -> int:
    off = [0,
           1 + (doc * P.RE1_MUL + P.RE1_ADD) % P.RE1_SPAN,
           P.RE2_BASE + (doc * P.RE2_MUL + P.RE2_ADD) % P.RE2_SPAN][gen]
    s0 = (doc * P.TS0_MUL + P.TS0_ADD) % P.YEAR_S
    return (P.EPOCH_2024_S + s0 + off) * 1_000_000


def _both(spark, pdf: pd.DataFrame, schema: str, exprs) -> tuple:
    """Rows of ``SELECT exprs(d) FROM t`` in Spark and in DuckDB."""
    sdf = spark.createDataFrame(pdf, schema)
    got_s = [tuple(r) for r in sdf.selectExpr(*exprs(SPARK)).collect()]
    con = duckdb.connect()
    con.register("t", pdf)
    got_d = con.sql(f"SELECT {', '.join(exprs(DUCK))} FROM t").fetchall()
    con.close()
    return got_s, got_d


def test_url_and_capture_time(spark):
    docs = pd.DataFrame({"doc_id": DOC_IDS})

    def exprs(d):
        # epoch microseconds: the engines hand timestamps to Python in
        # different time zones
        us = ("unix_micros({})" if d is SPARK else "epoch_us({})").format
        return [P.url_sql()] + [us(P.capture_ts_sql(d, off))
                                for off, _ in P._CAPTURES]

    want = [(_py_url(doc), *(_py_capture_us(doc, g) for g in range(3)))
            for doc in DOC_IDS]
    got_s, got_d = _both(spark, docs, "doc_id long", exprs)
    assert got_s == want
    assert got_d == want


def test_html_wrap_and_extraction(spark):
    texts = pd.DataFrame({"text": TEXTS})

    def exprs(d):
        return [P.html_sql(d), P.text_sql(d, f"({P.html_sql(d)})")]

    want = [((P.HTML_PRE + t + P.HTML_POST).encode(), t) for t in TEXTS]
    got_s, got_d = _both(spark, texts, "text string", exprs)
    assert [(bytes(h), t) for h, t in got_s] == want
    assert [(bytes(h), t) for h, t in got_d] == want


def test_page_id_parse_and_geocode(spark):
    """A url without a page id parses to a null id and a null point in
    both engines; ids past 3.47e9, where an unreduced LCG product
    passes 2^63, geocode exactly."""
    urls = pd.DataFrame({"url": [_py_url(d) for d in DOC_IDS]
                         + [NO_ID_URL]})
    x, y = world.xy_sql(P.page_id_sql())

    def exprs(d):
        return [P.page_id_sql(), x, y]

    want = [(d, *_py_xy(d)) for d in DOC_IDS] + [(None, None, None)]
    got_s, got_d = _both(spark, urls, "url string", exprs)
    assert got_s == want
    assert got_d == want


def test_engine_geocode_of_large_page_ids(spark):
    """pages_ops.geocode over a DataFrame: ids of 3.5e9 and 10^12 used
    to raise ARITHMETIC_OVERFLOW under ANSI mode."""
    urls = [_py_url(d) for d in DOC_IDS] + [NO_ID_URL]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [tuple(r) for r in pages_ops.geocode(df)
           .select("point_id", "x", "y").collect()]
    assert got == [(d, *_py_xy(d)) for d in DOC_IDS] + [(None, None, None)]


def test_ndvi_mean_sd(spark):
    moments = pd.DataFrame({"s1": [0, 1_234, -56_789, 10**9],
                            "s2": [7, 999_999, 3_456_789, 10**15],
                            "n_cells": [2, 3, 2_821, 2_827]})

    def ref(s1, s2, n):
        f1, f2, fn = float(s1), float(s2), float(n)
        sd = math.sqrt((f2 - f1 * f1 / fn) / (fn - 1.0)) / 800.0
        return f1 / (800.0 * n), sd, n

    want = [ref(*r) for r in moments.itertuples(index=False)]
    got_s, got_d = _both(spark, moments, "s1 long, s2 long, n_cells long",
                         lambda d: availability.ndvi_sql())
    assert got_s == want
    assert got_d == want


@pytest.mark.parametrize("buffer_m", [C.BUFFER_M, 500])
def test_nearest_columns(spark, buffer_m):
    d2 = [0, 1, buffer_m ** 2 - 1, buffer_m ** 2, 2, 10**12]
    want = [(math.sqrt(float(v)), v < buffer_m ** 2) for v in d2]
    got_s, got_d = _both(spark, pd.DataFrame({"min_d2": d2}),
                         "min_d2 long",
                         lambda d: accessibility.nearest_sql(buffer_m))
    assert got_s == want
    assert got_d == want
