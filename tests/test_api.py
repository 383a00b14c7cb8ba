"""The reference-named API façade (greenexp_r_spark/api.py): every
exported GreenExp_R function name runs end-to-end and agrees with the
underlying gate-verified operator."""

import pytest

from pyspark.sql import functions as F

from greenexp_r_spark import api, constants as C, world
from greenexp_r_spark.operators import availability

from .conftest import SF_TEST


@pytest.fixture(scope="module")
def pts(spark):
    return world.points_df(spark, SF_TEST)


def test_calc_ndvi(spark, pts):
    got = api.calc_ndvi(pts).toPandas()
    want = availability.ndvi_zonal(pts).toPandas()
    assert got.sort_values("point_id").reset_index(drop=True).equals(
        want.sort_values("point_id").reset_index(drop=True))


def test_land_cover_has_all_worldcover_columns(spark, pts):
    got = api.land_cover(pts)
    for c in C.LC_ALL_CODES:
        assert C.LC_LABELS[c] in got.columns


def test_greenspace_access_euclidean_and_network(spark, pts):
    e = api.greenspace_access(pts, world.parks_df(spark)).toPandas()
    assert {"closest_greenspace", "greenspace_in_buffer"} <= set(e.columns)
    n = api.greenspace_access(
        pts, world.parks_df(spark), euclidean=False,
        edges=world.road_edges_df(spark),
        entrances=world.park_entrance_nodes_df(spark),
        pseudo_entrance=True).toPandas()
    assert {"network_dist", "reachable_in_buffer"} <= set(n.columns)
    assert len(e) == len(n) == pts.count()


def test_greenspace_access_network_requires_graph(spark, pts):
    with pytest.raises(ValueError):
        api.greenspace_access(pts, world.parks_df(spark), euclidean=False)


def test_vgvi_from_sf_three_geometry_classes(spark, pts):
    p = api.vgvi_from_sf(pts.limit(5), "point").toPandas()
    assert len(p) == 5 and ((p.vgvi >= 0) & (p.vgvi <= 1)).all()
    li = api.vgvi_from_sf(world.road_edges_df(spark).limit(2),
                          "line").toPandas()
    assert len(li) == 8  # 2 edges x 4 samples at spacing 25
    po = api.vgvi_from_sf(world.parks_df(spark).limit(3),
                          "polygon").toPandas()
    assert len(po) > 0
    with pytest.raises(ValueError):
        api.vgvi_from_sf(pts, "raster")


def test_viewshed_and_proportion_and_address(spark, pts):
    few = pts.where(F.col("point_id") < 3)
    vs = api.viewshed(few).toPandas()
    assert set(vs.point_id) == {0, 1, 2}
    vp = api.visibility_proportion(few).toPandas()
    assert len(vp) == 3
    va = api.vgvi_from_address(few).toPandas()
    assert (va.n_samples == 30).all()


def test_sf_to_rast(spark):
    grid = api.sf_to_rast(world.parks_df(spark), v="radius", spark=spark,
                          xmin=0, ymin=0, size_m=2000, res=100).toPandas()
    assert len(grid) == 400
    assert grid.idw_value.notna().all()


def test_api_network_weighted_equals_bfs_on_uniform_lattice(spark, pts):
    """The facade's network mode must equal the network operator on
    the uniform lattice (same lattice, same entrances, same bound)."""
    from greenexp_r_spark.operators import network
    got = api.greenspace_access(
        pts, world.parks_df(spark), euclidean=False,
        edges=world.road_edges_df(spark),
        entrances=world.park_entrances_df(spark)
    ).toPandas().sort_values("point_id")
    want = network.network_access(
        pts, world.road_edges_df(spark),
        world.park_entrances_df(spark)).toPandas().sort_values("point_id")
    assert (got.point_id.to_numpy() == want.point_id.to_numpy()).all()
    import numpy as np
    np.testing.assert_array_equal(
        got.network_dist.to_numpy(), want.network_dist.to_numpy())
    assert (got.reachable_in_buffer.to_numpy()
            == want.reachable_in_buffer.to_numpy()).all()
