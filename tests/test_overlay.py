"""Exact polygon overlay vs the discretized greenspace fraction, and
WKB plumbing through Spark."""

from __future__ import annotations

import numpy as np

from greenexp_r_spark import world
from greenexp_r_spark.kernels import geom as G
from greenexp_r_spark.operators import availability, overlay

from .conftest import SF_TEST


def _holed_parks_wkb_df(spark):
    """The holed/multipolygon park fixture
    (registry_geo3.holed_park_rings) as a WKB layer: one row per park,
    geometry = MULTIPOLYGON whose members may carry interior rings.
    Returns (park_id, bxmin, bymin, bxmax, bymax, geom_wkb)."""
    from greenexp_r_spark import registry_geo3 as G3
    from greenexp_r_spark.kernels import concave as CK

    rows = []
    for g in range(G3.N_HOLED):
        members = [CK.make_valid_polygon(m)
                   for m in G3.holed_park_rings(g)]
        outer = np.vstack([m[0] for m in members])
        rows.append((g, float(outer[:, 0].min()), float(outer[:, 1].min()),
                     float(outer[:, 0].max()), float(outer[:, 1].max()),
                     bytearray(G.wkb_multipolygon_rings(members))))
    return spark.createDataFrame(
        rows, "park_id long, bxmin double, bymin double, "
              "bxmax double, bymax double, geom_wkb binary")


def test_polygon_pct_close_to_grid_pct(spark):
    pts = world.points_df(spark, SF_TEST).where("point_id % 10 = 0")
    parks = world.parks_df(spark)
    poly = (overlay.greenspace_polygon_pct(pts, parks).toPandas()
            .sort_values("point_id").reset_index(drop=True))
    grid = (availability.greenspace_pct(pts, parks).toPandas()
            .sort_values("point_id").reset_index(drop=True))
    assert poly["point_id"].tolist() == grid["point_id"].tolist()
    p = poly["greenspace_poly_pct"].to_numpy()
    g = grid["greenspace_pct"].to_numpy()
    assert ((p >= 0) & (p <= 100)).all()
    # the WKB parks are k-gons (k=5..8) inscribed in the discs the
    # grid path uses: pentagon covers 75.7% of its disc, octagon 90%.
    # So poly ≤ grid (+discretization error), and where parks are
    # pairwise disjoint poly ≥ 0.70·grid.
    assert (p <= g + 3.0).all()
    parks = world.parks_df(spark).toPandas()
    pts = poly.merge(grid, on="point_id")
    pdf = (world.points_df(spark, SF_TEST).where("point_id % 10 = 0")
           .select("point_id", "x", "y").toPandas())
    pts = pts.merge(pdf, on="point_id")
    checked = 0
    for _, row in pts.iterrows():
        d = np.sqrt((parks.cx - row.x) ** 2 + (parks.cy - row.y) ** 2)
        near = parks[d < 300 + parks.radius]
        disjoint = True
        arr = near[["cx", "cy", "radius"]].to_numpy()
        for i in range(len(arr)):
            for j in range(i + 1, len(arr)):
                dd = np.hypot(arr[i, 0] - arr[j, 0], arr[i, 1] - arr[j, 1])
                if dd < arr[i, 2] + arr[j, 2]:
                    disjoint = False
        if disjoint and len(near):
            checked += 1
            assert row.greenspace_poly_pct >= 0.70 * row.greenspace_pct - 3.0
            assert row.greenspace_poly_pct <= row.greenspace_pct + 3.0
    assert checked > 0


def test_parks_wkb_roundtrip(spark):
    parks = overlay.parks_wkb_df(world.parks_df(spark)).toPandas()
    for _, row in parks.head(10).iterrows():
        ring = G.parse_wkb_polygon(bytes(row["geom_wkb"]))
        k = 5 + int(row["park_id"]) % 4
        assert len(ring) == k
        cx, cy = G.polygon_centroid(ring)
        assert cx == np.testing.assert_allclose(cx, row["cx"], atol=1e-9) or True
        np.testing.assert_allclose([cx, cy], [row["cx"], row["cy"]],
                                   atol=1e-9)


# ----------------- holed / multipolygon WKB overlay (round 4)

def test_wkb_rings_roundtrip():
    import numpy as np
    from greenexp_r_spark.kernels import geom as G
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    hole = np.array([[1, 1], [2, 1], [2, 2], [1, 2]], dtype=float)
    m2 = sq + np.array([10.0, 0.0])
    b = G.wkb_multipolygon_rings([[sq, hole], [m2]])
    out = G.parse_wkb_rings(b)
    assert len(out) == 2
    assert len(out[0]) == 2 and len(out[1]) == 1
    assert (out[0][0] == sq).all() and (out[0][1] == hole).all()
    assert (out[1][0] == m2).all()
    # plain POLYGON with holes through the same decoder
    pb = G.wkb_polygon_rings([sq, hole])
    assert len(G.parse_wkb_rings(pb)) == 1
    assert len(G.parse_wkb_rings(pb)[0]) == 2
    # single-ring polygons still parse through the legacy path
    assert (G.parse_wkb_polygon(G.wkb_polygon(sq)) == sq).all()


def test_greenspace_rings_pct_matches_grid(spark):
    """Exact holed-overlay operator vs a dense-grid discretization of
    the same holed/multipolygon fixture."""
    import numpy as np
    from greenexp_r_spark import registry_geo3 as G3
    from greenexp_r_spark.kernels import concave as CK, geom as G
    from greenexp_r_spark.operators import overlay

    # observers planted on the first few parks' shells (guaranteed
    # non-trivial overlap, holes inside the buffer)
    obs = []
    for g in (0, 2, 8, 9):
        ring = G3.holed_park_rings(g)[0][0]
        obs.append((g, float(ring[:, 0].mean()), float(ring[:, 1].mean())))
    pts = spark.createDataFrame([(i, x, y) for i, (_, x, y)
                                 in enumerate(obs)],
                                "point_id long, x double, y double")
    got = overlay.greenspace_rings_pct(
        pts, _holed_parks_wkb_df(spark)).toPandas() \
        .set_index("point_id")["greenspace_rings_pct"]

    R = 300.0
    rng = np.random.RandomState(0)
    for i, (g, x, y) in enumerate(obs):
        # dense uniform sample in the buffer disc approximation
        u = rng.uniform(-R, R, (200_000, 2))
        u = u[(u ** 2).sum(1) <= R * R][:80_000]
        px, py = u[:, 0] + x, u[:, 1] + y
        inside = np.zeros(len(px), dtype=bool)
        for gg in range(G3.N_HOLED):
            for member in G3.holed_park_rings(gg):
                inside |= CK.points_in_rings(
                    px, py, CK.make_valid_polygon(member))
        wanted = inside.mean() * 100.0
        assert abs(got[i] - wanted) < 1.0, (i, got[i], wanted)
