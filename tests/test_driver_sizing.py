"""Sizes and routes decided on the driver: building the Python passes
runs no Spark job, the Euclidean access runs only its one bounded park
fetch, both of its routes give the same rows, and the one squared-
distance text truncates alike in Spark, DuckDB and the numpy kernel."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from greenexp_r_spark import api, constants as C, registry, world
from greenexp_r_spark.dialect import DUCK, SPARK
from greenexp_r_spark.kernels.exposure import nearest_d2
from greenexp_r_spark.operators import (accessibility, multimodal,
                                        substrdup, visibility)
from greenexp_r_spark.sources import pages as P

from .conftest import SF_TEST


def _jobs(sc, group, build):
    """(result of build(), Spark jobs it ran)."""
    sc.setJobGroup(group, group)
    try:
        out = build()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# fractional offsets from one park at the origin: truncation toward
# zero gives |d| = 2 and 0, rounding (DuckDB's CAST) 3 and 1
OFFSETS = [(2.7, -2.7), (-2.7, 0.5), (0.5, -0.5), (-0.5, 2.7)]
WANT = [8, 4, 0, 4]


def test_d2_text_truncates_alike_in_both_engines_and_the_kernel(spark):
    x, y = (np.array(c) for c in zip(*OFFSETS))
    zero = np.zeros(1)
    assert [int(nearest_d2(x[i:i + 1], y[i:i + 1], zero, zero)[0])
            for i in range(len(x))] == WANT
    pts = pd.DataFrame({"point_id": range(len(x)), "x": x, "y": y})
    sdf = spark.createDataFrame(pts).crossJoin(
        spark.createDataFrame([(0.0, 0.0)], "cx double, cy double"))
    got = sdf.selectExpr("point_id", SPARK.dist2("x", "y", "cx", "cy")
                         + " AS d2").toPandas().sort_values("point_id")
    assert got["d2"].tolist() == WANT
    con = duckdb.connect()
    con.register("pts", pts)
    got = con.sql(f"SELECT {DUCK.dist2('x', 'y', '0.0', '0.0')} AS d2 "
                  "FROM pts ORDER BY point_id").fetchall()
    assert [r[0] for r in got] == WANT
    # the oracles embed the same text: the near CTE of the euclidean
    # and flagship oracles over the same points and park
    con.register("parks", pd.DataFrame({"cx": [0.0], "cy": [0.0],
                                        "area_m2": [1e9]}))
    got = con.sql(f"WITH {registry._near_cte(DUCK, src='pts')} "
                  "SELECT min_d2 FROM near ORDER BY point_id").fetchall()
    assert [r[0] for r in got] == WANT


def _access_fixture(spark):
    """40 sf0.001 points plus a point with a null coordinate, an id
    on two rows and an id whose second row has a null coordinate."""
    rows = [tuple(r) for r in world.points_df(spark, SF_TEST)
            .select("point_id", "x", "y").limit(40).collect()]
    (a, ax, ay), (b, _, _) = rows[:2]
    rows += [(10**9, None, None), (a, ax + 1234.0, ay - 777.0),
             (b, None, 5.0)]
    return spark.createDataFrame(rows, "point_id long, x double, y double")


def _expected_rows(pts, parks):
    cx, cy = (parks[c].to_numpy(np.float64) for c in ("cx", "cy"))
    ok = pts["x"].notna() & pts["y"].notna()
    d2 = pd.Series(np.nan, index=pts.index)
    d2[ok] = nearest_d2(pts["x"][ok].to_numpy(), pts["y"][ok].to_numpy(),
                        cx, cy).astype(np.float64)
    best = d2.groupby(pts["point_id"]).min()
    return pd.DataFrame({"point_id": best.index.astype(np.int64),
                         "closest_greenspace": np.sqrt(best.to_numpy())}
                        ).reset_index(drop=True)


def _rows(df):
    return (df.toPandas().sort_values("point_id").reset_index(drop=True)
            [["point_id", "closest_greenspace"]])


@pytest.mark.parametrize("limit", [None, 5])
def test_euclidean_access_routes_keep_the_rows(spark, monkeypatch, limit):
    """The kernel route and, with BROADCAST_PARK_LIMIT below the park
    count, the cell-index route: one row per point id, the nearest
    over its rows, null distance for a point with no coordinate."""
    parks = world.parks_df(spark)
    pts = _access_fixture(spark)
    want = _expected_rows(pts.toPandas(), parks.where(
        F.col("area_m2") > C.MIN_GREENSPACE_M2).toPandas())
    if limit is not None:
        monkeypatch.setattr(accessibility, "BROADCAST_PARK_LIMIT", limit)
        assert accessibility.park_centroids(parks) is None
    df = accessibility.euclidean_access(pts, parks)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("MapInPandas" in plan) == (limit is None)
    got = _rows(df)
    assert got["closest_greenspace"].isna().sum() == 1
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_empty_park_dim_gives_no_access_rows(spark):
    parks = world.parks_df(spark).where(F.col("area_m2") < 0)
    pts = world.points_df(spark, SF_TEST)
    assert accessibility.euclidean_access(pts, parks).count() == 0


def test_building_the_python_passes_runs_no_job(spark):
    """The task counts come from the source listing: no count, size
    probe or collect while the plans are built; the Euclidean access
    runs its one bounded park fetch and nothing else."""
    sc = spark.sparkContext
    pts = world.points_df(spark, SF_TEST)
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
    edges, parks = world.road_edges_df(spark), world.parks_df(spark)

    def build():
        visibility.viewshed_metrics(pts)
        visibility.viewshed_raster(pts)
        visibility.viewshed_flat_raster(pts)
        visibility.vgvi_points(pts)
        visibility.vgvi_lines(edges)
        visibility.vgvi_polygons(parks)
        visibility.vgvi_from_address(pts)
        multimodal.meta_thumbnail(docs)
        substrdup.substring_dedup(docs)

    assert _jobs(sc, "passes-build", build)[1] == 0
    _, n_read = _jobs(sc, "sizing-parquet-read",
                      lambda: P.documents_df(spark, SF_TEST))
    assert _jobs(sc, "visibility-rows-build", lambda: registry
                 ._q_visibility_rows(spark, SF_TEST))[1] == n_read
    assert _jobs(sc, "euclid-build", lambda: accessibility
                 .euclidean_access(pts, parks))[1] == 1
    assert _jobs(sc, "api-access-build", lambda: api
                 .greenspace_access(pts, parks))[1] == 1
