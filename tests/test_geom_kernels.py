"""Geometry kernel tests: closed-form checks + Monte-Carlo cross-checks
(seeded) for hull/clip/containment, WKB round-trips."""

from __future__ import annotations

import numpy as np
import pytest

from greenexp_r_spark.kernels import geom as G


def test_wkb_polygon_roundtrip():
    ring = G.regular_polygon(100, 200, 50, 7)
    b = G.wkb_polygon(ring)
    back = G.parse_wkb_polygon(b)
    np.testing.assert_allclose(back, ring)


def test_area_and_centroid_of_square():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    assert G.polygon_area(sq) == 100.0
    assert G.polygon_centroid(sq) == (5.0, 5.0)


def test_regular_polygon_area_converges_to_disc():
    r = 40.0
    a64 = abs(G.polygon_area(G.regular_polygon(0, 0, r, 64)))
    assert a64 == pytest.approx(np.pi * r * r, rel=2e-3)


def test_point_in_convex_polygon_matches_distance_for_kgon():
    rng = np.random.RandomState(3)
    ring = G.regular_polygon(50, 60, 30, 48)
    px = rng.uniform(0, 120, 4000)
    py = rng.uniform(0, 120, 4000)
    got = G.points_in_convex_polygon(px, py, ring)
    d = np.sqrt((px - 50) ** 2 + (py - 60) ** 2)
    # inside the inscribed circle → in polygon; outside circumcircle → out
    apothem = 30 * np.cos(np.pi / 48)
    assert got[d <= apothem - 1e-9].all()
    assert (~got[d > 30 + 1e-9]).all()


def test_convex_hull_brute_force():
    rng = np.random.RandomState(11)
    pts = rng.uniform(0, 100, size=(200, 2))
    hull = G.convex_hull(pts)
    assert G.is_convex(hull)
    assert G.polygon_area(hull) > 0
    inside = G.points_in_convex_polygon(pts[:, 0], pts[:, 1], hull)
    assert inside.all()
    # hull vertices are a subset of input points
    for v in hull:
        assert (np.isclose(pts, v).all(axis=1)).any()


def test_clip_square_halves():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    right = np.array([[5, -1], [20, -1], [20, 11], [5, 11]], dtype=float)
    assert G.intersection_area(sq, right) == pytest.approx(50.0)


def test_clip_disjoint_is_zero():
    a = G.regular_polygon(0, 0, 5, 8)
    b = G.regular_polygon(100, 100, 5, 8)
    assert G.intersection_area(a, b) == 0.0


def test_clip_area_monte_carlo():
    rng = np.random.RandomState(5)
    a = G.regular_polygon(30, 30, 25, 9)
    b = G.regular_polygon(45, 35, 20, 12)
    exact = G.intersection_area(a, b)
    px = rng.uniform(0, 80, 200_000)
    py = rng.uniform(0, 80, 200_000)
    inside = (G.points_in_convex_polygon(px, py, a)
              & G.points_in_convex_polygon(px, py, b))
    mc = inside.mean() * 80 * 80
    assert exact == pytest.approx(mc, rel=0.03)


def test_concave_clip_rejected():
    concave = np.array([[0, 0], [10, 0], [5, 3], [10, 10], [0, 10]],
                       dtype=float)
    with pytest.raises(ValueError):
        G.clip_convex(G.regular_polygon(5, 5, 2, 6), concave)
