"""Round-3 operators: cell-index kNN, network subdivision/smoothing,
concave cover, flat-world viewshed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_TEST

from greenexp_r_spark import world
from greenexp_r_spark.operators import netprep
from greenexp_r_spark.operators.accessibility import knn_parks
from greenexp_r_spark.operators.knn_cells import knn_parks_cells


def test_knn_cells_equals_broadcast(spark):
    pts = world.points_df(spark, SF_TEST)
    parks = world.parks_df(spark)
    a = knn_parks(pts, parks, k=5).toPandas() \
        .sort_values(["point_id", "rank"]).reset_index(drop=True)
    b = knn_parks_cells(pts, parks, k=5).toPandas() \
        .sort_values(["point_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_knn_cells_fallback_path(spark):
    # tiny search radius forces ~every point through the exact
    # broadcast fallback — results must still be identical
    pts = world.points_df(spark, SF_TEST).limit(40)
    parks = world.parks_df(spark)
    a = knn_parks(pts, parks, k=5).toPandas() \
        .sort_values(["point_id", "rank"]).reset_index(drop=True)
    b = knn_parks_cells(pts, parks, k=5, search_radius=200.0).toPandas() \
        .sort_values(["point_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def _verts(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["seg_id", "pos", "node_id",
                                    "vx", "vy"]))


def test_subdivide_splits_at_shared_vertices(spark):
    # two segments crossing at node 5 (interior of both)
    rows = [(0, 0, 1, 0.0, 100.0), (0, 1, 5, 100.0, 100.0),
            (0, 2, 9, 200.0, 100.0),
            (1, 0, 4, 100.0, 0.0), (1, 1, 5, 100.0, 100.0),
            (1, 2, 6, 100.0, 200.0)]
    edges = netprep.subdivide(_verts(spark, rows)).toPandas()
    got = {tuple(sorted((int(r.src), int(r.dst)))): r.length_m
           for r in edges.itertuples()}
    assert got == {(1, 5): 100.0, (5, 9): 100.0,
                   (4, 5): 100.0, (5, 6): 100.0}


def test_subdivide_keeps_unshared_interior_vertices(spark):
    rows = [(0, 0, 1, 0.0, 0.0), (0, 1, 2, 100.0, 0.0),
            (0, 2, 3, 200.0, 0.0)]
    edges = netprep.subdivide(_verts(spark, rows)).toPandas()
    assert len(edges) == 1
    assert edges.iloc[0]["length_m"] == 200.0


def test_smooth_contracts_chain(spark):
    # path a(1) - b(2) - c(3) - d(4) with anchors forced by spurs at a, d
    e = spark.createDataFrame(pd.DataFrame(
        [(1, 2, 100.0), (2, 3, 150.0), (3, 4, 100.0),
         (1, 10, 50.0), (1, 11, 50.0), (4, 12, 50.0), (4, 13, 50.0)],
        columns=["src", "dst", "length_m"]))
    out = netprep.smooth(e).toPandas()
    pair = out[(out.length_m == 350.0)]
    assert len(pair) == 1
    assert {int(pair.iloc[0].src), int(pair.iloc[0].dst)} == {1, 4}
    assert len(out) == 5              # 4 spurs + contracted chain


def test_fixture_prepare_structure(spark):
    prepared = netprep.prepare(netprep.segments_df(spark))
    summary = netprep.degree_summary(prepared).toPandas()
    n = netprep.NET_N
    # pseudo nodes at i=10 on horizontal rows are gone
    mid = {4 * j * n + 10 for j in range(6)}
    assert not (summary.node_id.isin(mid)).any()
    # corners are smoothed away too
    corners = {0, n - 1, n * (n - 1), n * n - 1}
    assert not (summary.node_id.isin(corners)).any()
    # the spur end (2, 2) survives with degree 1 and 200 m chain
    spur = summary[summary.node_id == 2 * n + 2]
    assert len(spur) == 1 and int(spur.iloc[0].degree) == 1
    assert spur.iloc[0].sum_len == 200.0


def test_concave_engine_matches_kernel(spark):
    from greenexp_r_spark.kernels import concave as CK
    from greenexp_r_spark import registry_geo3 as G3
    # sample some buffer cells of one point and compare the SQL parity
    # decision against the numpy even-odd kernel for every park
    from greenexp_r_spark.dialect import SPARK as _SPK
    pdf = G3._run_shared_sql(spark, SF_TEST,
                             G3.greenspace_concave_sql(_SPK)).toPandas()
    pts = world.points_df(spark, SF_TEST).select("point_id", "x", "y") \
        .toPandas().set_index("point_id")
    rings = [CK.make_valid_general(G3.concave_park_ring(g))
             for g in range(G3.N_CONCAVE)]
    res = G3.CONCAVE_RES
    # recompute a handful of rows fully in numpy
    for _, row in pdf.sample(25, random_state=0).iterrows():
        x, y = pts.loc[int(row.point_id), ["x", "y"]]
        ci = np.arange(int(np.floor((x - 300) / res)),
                       int(np.floor((x + 300) / res)) + 1)
        cj = np.arange(int(np.floor((y - 300) / res)),
                       int(np.floor((y + 300) / res)) + 1)
        cx = (ci[:, None] + 0.5) * res + 0 * cj[None, :]
        cy = 0 * ci[:, None] + (cj[None, :] + 0.5) * res
        inb = (cx - x) ** 2 + (cy - y) ** 2 <= 300.0 ** 2
        covered = np.zeros_like(inb)
        for ring in rings:
            covered |= CK.points_in_polygon(cx, cy, ring)
        want = min((covered & inb).sum() / inb.sum() * 100.0, 100.0)
        assert row.greenspace_concave_pct == pytest.approx(want)
        assert row.n_cells == inb.sum()


def test_concave_fixture_rings_are_simple():
    from greenexp_r_spark import registry_geo3 as G3
    from greenexp_r_spark.kernels import concave as CK, geom
    for g in range(G3.N_CONCAVE):
        ring = CK.make_valid_general(G3.concave_park_ring(g))
        tris = CK.triangulate(ring)          # raises if non-simple
        assert sum(abs(geom.polygon_area(t)) for t in tris) \
            == pytest.approx(geom.polygon_area(ring))


def test_viewshed_flat_matches_trie(spark):
    from greenexp_r_spark import registry_geo3 as G3
    from greenexp_r_spark.operators import visibility as V
    from tests.test_lostrie import ray_sweep
    out = G3._q_viewshed_flat(spark, SF_TEST).toPandas()
    r = int(round(G3.VSF_MAX_DIST / G3.VSF_RES))
    nc = 2 * r + 1
    one = out[out.point_id == out.point_id.iloc[0]]
    ci0 = int(one.ci.iloc[0])  # not necessarily center; recompute
    pts = world.points_df(spark, SF_TEST).toPandas() \
        .set_index("point_id")
    pid = int(one.point_id.iloc[0])
    x, y = pts.loc[pid, ["x", "y"]]
    ci0 = int(np.floor(x / G3.VSF_RES))
    cj0 = int(np.floor(y / G3.VSF_RES))
    offs = np.arange(nc) - r
    pci = ci0 + offs[None, :] + 0 * offs[:, None]
    pcj = cj0 - offs[:, None] + 0 * offs[None, :]
    heights = V.flat_height(pci.reshape(-1), pcj.reshape(-1))
    vis = ray_sweep(heights[None, :], np.array([V.FLAT_OBSERVER]),
                    r)[0]
    got = {(int(rw.ci), int(rw.cj)): int(rw.visible)
           for rw in one.itertuples()}
    for (cij, v) in got.items():
        row = cj0 - cij[1] + r
        col = cij[0] - ci0 + r
        assert int(vis[row * nc + col]) == v
