"""Guard against drift between the world's shared-SQL fragments
(world.py, run by both Spark and DuckDB) and its Python renderings:
numpy (kernels/worldgrid) and the constants' formulas.  The VGVI
kernels consume the numpy parks; the oracle queries consume the SQL
parks — they must be the same discs forever."""

from __future__ import annotations

import numpy as np

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.kernels import worldgrid as W
from greenexp_r_spark.operators import network

from .conftest import SF_TEST


def test_park_discs_match_sql(spark):
    sql = (world.parks_df(spark)
           .select("park_id", "cx", "cy", "radius")
           .orderBy("park_id").toPandas())
    np_discs = W.park_discs()
    np.testing.assert_array_equal(sql["cx"].to_numpy(), np_discs[:, 0])
    np.testing.assert_array_equal(sql["cy"].to_numpy(), np_discs[:, 1])
    np.testing.assert_array_equal(sql["radius"].to_numpy(), np_discs[:, 2])


def test_points_match_constants(spark):
    from greenexp_r_spark import constants as C
    pts = world.points_df(spark, SF_TEST).orderBy("point_id") \
        .limit(100).toPandas()
    did = pts["point_id"].to_numpy()
    x = ((did * C.X_MUL + C.X_ADD) % C.P31) % C.WORLD_SIZE
    y = ((did * C.Y_MUL + C.Y_ADD) % C.P31) % C.WORLD_SIZE
    np.testing.assert_array_equal(pts["x"].to_numpy(), x.astype(float))
    np.testing.assert_array_equal(pts["y"].to_numpy(), y.astype(float))


def _lattice_edges() -> set[tuple[int, int, int]]:
    """(edge_id, src, dst) of the road lattice after the hash deletion."""
    n, last = C.ROAD_N, C.ROAD_N - 1
    edges = [(j * last + i, j * n + i, j * n + i + 1)
             for j in range(n) for i in range(last)]
    edges += [(n * last + i * last + j, j * n + i, (j + 1) * n + i)
              for i in range(n) for j in range(last)]
    return {e for e in edges
            if ((e[0] * C.ROAD_DEL_MUL + C.ROAD_DEL_ADD) % C.P31)
            % C.ROAD_DEL_MOD != 0}


def test_road_lattice_fetch_is_one_job(spark):
    """The lattice is two range explodes, no cross join: fetching the
    directed graph runs one job and gives the reference edges."""
    sc = spark.sparkContext
    sc.setJobGroup("lattice", "lattice")
    try:
        got = network.bidirectional(world.road_edges_df(spark)).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("lattice")) == 1
    edges = world.road_edges_df(spark).toPandas()
    assert set(edges[["edge_id", "src", "dst"]].itertuples(
        index=False, name=None)) == _lattice_edges()
    assert len(got) == 2 * len(edges)
