"""The one-pass pages exposure (pages_ops.exposure_of_pages): identity
with the family composition it replaced, the rows it drops, both park
routes, the distance kernel's row blocks, the plan it builds and the
py4j round trips building it costs."""

from __future__ import annotations

import datetime as dt
import re
import threading

import numpy as np
import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from .conftest import SF_TEST

from greenexp_r_spark import constants as C, registry, world
from greenexp_r_spark.kernels import budget, exposure as XK
from greenexp_r_spark.kernels import ndvi_intervals as NI
from greenexp_r_spark.operators import (accessibility, availability,
                                        knn_cells, pages_ops, visibility)
from greenexp_r_spark.sources import pages as P

COLS = ["url", "warc_ts", "x", "y", "n_chars", "mean_ndvi", "sd_ndvi",
        "n_cells", "closest_greenspace", "greenspace_in_buffer"]


def _by_url(df) -> pd.DataFrame:
    return df.toPandas().sort_values("url", ignore_index=True)


def _family_composition(spark, sf_dir):
    """The flagship as three family plans joined on the page id."""
    geo = pages_ops.geocode(pages_ops.latest_extracted_snapshot(
        P.pages_df(spark, sf_dir))).select(
            "point_id", "url", "warc_ts", "x", "y", "n_chars")
    av = availability.ndvi_zonal(geo)
    ac = knn_cells.euclidean_access_cells(geo, world.parks_df(spark))
    vg = visibility.vgvi_points(geo, sample_mod=10)
    return (geo.join(av, "point_id").join(ac, "point_id")
            .join(vg, "point_id", "left").select(*COLS, "vgvi"))


def _pages(spark, urls):
    """A pages table with one capture of a short page per url."""
    ts = dt.datetime(2024, 3, 1)
    html = (P.HTML_PRE + "green" + P.HTML_POST).encode()
    return spark.createDataFrame(
        [(u, ts, bytearray(html), "green", "en") for u in urls],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_flagship_equals_family_composition(spark):
    got = _by_url(registry.flagship_exposure_pages(spark, SF_TEST))
    want = _by_url(_family_composition(spark, SF_TEST))
    assert len(got) > 0 and got["vgvi"].notna().any()
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_urls_sharing_a_page_id_score_once_each(spark, monkeypatch):
    """Two urls with page id 10 are two rows, each scored from its own
    disc: no fan-out, no summed moments."""
    urls = ["https://a.example/page/10", "https://b.example/page/10",
            "https://a.example/page/11"]
    monkeypatch.setattr(P, "pages_df",
                        lambda spark, sf_dir: _pages(spark, urls))
    got = _by_url(registry.flagship_exposure_pages(spark, "unused"))
    assert got["url"].tolist() == sorted(urls)
    x, y = got["x"].to_numpy(), got["y"].to_numpy()
    _, _, n = NI.disc_sums(x, y, C.BUFFER_M)
    assert (got["n_cells"].to_numpy() == n).all()
    ten = got["url"].str.endswith("/10").to_numpy()
    assert (got["vgvi"].notna().to_numpy() == ten).all()
    assert got["vgvi"][ten].nunique() == 1


def test_url_without_page_id_is_dropped(spark):
    pages = P.pages_df(spark, SF_TEST).where(
        F.col("url").rlike("/page/[0-9]$"))
    want = _by_url(pages_ops.exposure_of_pages(pages, sample_mod=10))
    got = _by_url(pages_ops.exposure_of_pages(pages.unionByName(
        _pages(spark, ["https://site1.example/about"])), sample_mod=10))
    assert len(want) == 10
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_empty_park_dim_drops_every_row(spark):
    """No qualifying park means no nearest park: the rows go, as the
    oracle's inner join drops them."""
    pages = P.pages_df(spark, SF_TEST)
    parks = world.parks_df(spark).where(F.col("area_m2") < 0)
    assert pages_ops.exposure_of_pages(pages, parks).count() == 0


def test_large_park_dim_takes_the_cell_index_route(spark, monkeypatch):
    want = _by_url(pages_ops.exposure_over_pages(spark, SF_TEST))
    monkeypatch.setattr(accessibility, "BROADCAST_PARK_LIMIT", 5)
    assert accessibility.park_centroids(world.parks_df(spark)) is None
    df = pages_ops.exposure_over_pages(spark, SF_TEST)
    assert "Join" in df._jdf.queryExecution().executedPlan().toString()
    pd.testing.assert_frame_equal(_by_url(df), want, check_exact=True)


def test_nearest_d2_over_row_blocks(monkeypatch):
    """rows × parks far above the budget: blocks of a few rows each
    give the brute-force BIGINT minimum (Dialect.dist2's truncation)."""
    monkeypatch.setattr(budget, "WORKSET_BYTES", 800)
    rng = np.random.default_rng(5)
    x, y = rng.uniform(-2e4, 4e4, (2, 1_000))
    cx, cy = rng.uniform(0, 2e4, (2, 37))
    got = XK.nearest_d2(x, y, cx, cy)
    want = [min(int(xi - a) ** 2 + int(yi - b) ** 2
                for a, b in zip(cx, cy)) for xi, yi in zip(x, y)]
    assert got.tolist() == want
    with pytest.raises(ValueError):
        XK.nearest_d2(x, y, cx[:0], cy[:0])


def test_one_pass_plan_and_build_jobs(spark):
    """One MapInPandas, no join, no checkpointed RDD; building the
    DataFrame runs only the park collect (the documents schema is
    declared, so reading it runs no job)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, build):
        sc.setJobGroup(group, group)
        try:
            return build(), len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    _, n_schema = jobs_of("expo-schema",
                          lambda: P.documents_df(spark, SF_TEST))
    _, n_parks = jobs_of("expo-parks", lambda: accessibility
                         .park_centroids(world.parks_df(spark)))
    df, n_build = jobs_of("expo-build", lambda: registry
                          .flagship_exposure_pages(spark, SF_TEST))
    assert n_schema == 0 and n_parks == 1
    assert n_build == n_schema + n_parks
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan and "RDD" not in plan


def test_one_url_exchange_feeds_the_pass(spark):
    """The captures are hashed on url once, into one partition per
    core; the snapshot aggregate and the pass run behind that exchange
    with no round-robin one between them."""
    df = registry.flagship_exposure_pages(spark, SF_TEST)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    assert plan.count("Exchange") == 1
    assert re.search(rf"Exchange hashpartitioning\(url#\d+, {n}\)", plan)
    assert "RoundRobinPartitioning" not in plan


def test_flagship_build_py4j_round_trips(spark, monkeypatch):
    """No per-Column call-site capture: building the flagship makes a
    few hundred py4j round trips.  Only this thread's are counted: py4j
    sends dereferences of collected objects from its own finalizer
    thread, whenever they come due."""
    registry.flagship_exposure_pages(spark, SF_TEST)
    sent = []
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == builder:
            sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    registry.flagship_exposure_pages(spark, SF_TEST)
    monkeypatch.undo()
    assert len(sent) <= 250


def test_bad_column_still_raises_analysis_exception(spark):
    pages = P.pages_df(spark, SF_TEST)
    with pytest.raises(AnalysisException):
        pages_ops.exposure_of_pages(pages.withColumnRenamed("url", "u"))
    with pytest.raises(AnalysisException):
        pages.select(F.col("no_such_column"))
