"""Concave geometry kernels: triangulation, containment, clip area —
verified against grid discretization and closed forms."""

from __future__ import annotations

import numpy as np
import pytest

from greenexp_r_spark.kernels import concave, geom

L_SHAPE = np.array([[0, 0], [4, 0], [4, 1], [1, 1], [1, 4], [0, 4]],
                   dtype=float)                       # area 7
PLUS = np.array([[1, 0], [2, 0], [2, 1], [3, 1], [3, 2], [2, 2],
                 [2, 3], [1, 3], [1, 2], [0, 2], [0, 1], [1, 1]],
                dtype=float)                          # area 5
_ang = np.pi / 2 + 2 * np.pi * np.arange(10) / 10
_rad = np.where(np.arange(10) % 2 == 0, 3.0, 1.2)
STAR = np.stack([2 + _rad * np.cos(_ang), 1 + _rad * np.sin(_ang)],
                axis=1).round(3)                      # simple 5-point star


@pytest.mark.parametrize("ring,area", [(L_SHAPE, 7.0), (PLUS, 5.0)])
def test_triangulate_area(ring, area):
    tris = concave.triangulate(ring)
    assert len(tris) == len(ring) - 2
    assert sum(abs(geom.polygon_area(t)) for t in tris) == pytest.approx(area)


def test_triangulate_cw_input():
    tris = concave.triangulate(L_SHAPE[::-1])
    assert sum(abs(geom.polygon_area(t)) for t in tris) == pytest.approx(7.0)


@pytest.mark.parametrize("ring", [L_SHAPE, PLUS, STAR])
def test_points_in_polygon_matches_triangulation(ring):
    rng = np.random.RandomState(0)
    px = rng.uniform(-2, 6, 4000)
    py = rng.uniform(-3, 5, 4000)
    got = concave.points_in_polygon(px, py, ring)
    # oracle: inside iff inside any CCW triangle (boundary-free sample)
    want = np.zeros_like(got)
    for t in concave.triangulate(ring):
        want |= geom.points_in_convex_polygon(px, py, t)
    assert (got == want).mean() > 0.999   # boundary-grazing tolerance
    # and exact against the analytic area by Monte-Carlo proportion
    area_est = got.mean() * 8 * 8
    assert abs(area_est - abs(geom.polygon_area(ring))) < 1.5


def test_intersection_area_concave_vs_grid():
    clip = geom.regular_polygon(2.0, 1.5, 2.0, 64)
    got = concave.intersection_area_concave(L_SHAPE, clip)
    # dense-grid discretization oracle
    g = np.linspace(-1, 5, 1200)
    gx, gy = np.meshgrid(g, g)
    in_l = concave.points_in_polygon(gx.ravel(), gy.ravel(), L_SHAPE)
    in_c = geom.points_in_convex_polygon(gx.ravel(), gy.ravel(), clip)
    est = (in_l & in_c).mean() * 6 * 6
    assert abs(got - est) < 0.05
    # and bounded by both inputs
    assert 0 < got <= min(7.0, abs(geom.polygon_area(clip))) + 1e-9


def test_make_valid_general_accepts_concave():
    ring = np.vstack([L_SHAPE[:1], L_SHAPE])          # duplicate vertex
    out = concave.make_valid_general(ring[::-1])      # CW + dup
    assert geom.polygon_area(out) > 0
    assert len(out) == len(L_SHAPE)


def test_make_valid_still_raises_on_degenerate():
    with pytest.raises(ValueError):
        concave.make_valid_general(np.array([[0, 0], [1, 1]], dtype=float))


# ---------------------- polygons with holes / multipolygons (round 4)

SQUARE4 = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
HOLE1 = np.array([[1, 1], [2, 1], [2, 2], [1, 2]], dtype=float)
HOLE2 = np.array([[2.5, 2.5], [3.5, 2.5], [3.5, 3.5], [2.5, 3.5]],
                 dtype=float)


def test_make_valid_polygon_normalizes_and_checks_holes():
    rings = concave.make_valid_polygon([SQUARE4[::-1], HOLE1[::-1]])
    assert all(geom.polygon_area(r) > 0 for r in rings)
    with pytest.raises(ValueError, match="outside"):
        concave.make_valid_polygon(
            [SQUARE4, HOLE1 + np.array([10.0, 0.0])])
    with pytest.raises(ValueError, match="nested"):
        concave.make_valid_polygon(
            [SQUARE4 * 4, SQUARE4, HOLE1])    # HOLE1 inside SQUARE4


def test_points_in_rings_hole_containment():
    rings = concave.make_valid_polygon([SQUARE4, HOLE1, HOLE2])
    px = np.array([0.5, 1.5, 3.0, 3.0, -1.0, 2.25])
    py = np.array([0.5, 1.5, 3.0, 0.5, 2.0, 2.25])
    got = concave.points_in_rings(px, py, rings)
    #        in,  lake, lake2, in,  out,  in-between-lakes
    assert got.tolist() == [True, False, False, True, False, True]


def test_area_with_holes():
    rings = concave.make_valid_polygon([SQUARE4, HOLE1, HOLE2])
    cover = np.array([[-1, -1], [5, -1], [5, 5], [-1, 5]], dtype=float)
    assert concave.intersection_area_holes(rings, cover) \
        == pytest.approx(16 - 1 - 1)


def test_intersection_area_holes_vs_grid():
    rings = concave.make_valid_polygon([SQUARE4, HOLE1, HOLE2])
    clip = geom.regular_polygon(2.0, 2.0, 2.2, 64)
    got = concave.intersection_area_holes(rings, clip)
    g = np.linspace(-0.5, 4.5, 1500)
    gx, gy = np.meshgrid(g, g)
    inside = concave.points_in_rings(gx.ravel(), gy.ravel(), rings)
    in_c = geom.points_in_convex_polygon(gx.ravel(), gy.ravel(), clip)
    est = (inside & in_c).mean() * 5 * 5
    assert abs(got - est) < 0.05
    # clip fully inside the outer → area = |clip| − covered hole parts
    assert got < abs(geom.polygon_area(clip))


def test_holed_fixture_rings_are_valid_and_integer():
    from greenexp_r_spark import registry_geo3 as G3
    for g in range(G3.N_HOLED):
        members = G3.holed_park_rings(g)
        assert len(members) == (2 if g >= 8 else 1)
        for member in members:
            rings = concave.make_valid_polygon(member)
            for r in rings:
                assert np.all(r == np.round(r))       # integer lattice
            holes = sum(abs(geom.polygon_area(h)) for h in rings[1:])
            assert abs(geom.polygon_area(rings[0])) > holes


def test_holed_fixture_kernel_matches_sql_parity_form():
    """The kernel's points_in_rings over a multipolygon's full ring
    set must equal the SQL oracle's single-parity-accumulator form
    (union of all edges under one park_id)."""
    from greenexp_r_spark import registry_geo3 as G3
    rng = np.random.RandomState(7)
    for g in (0, 2, 8, 9):
        members = G3.holed_park_rings(g)
        all_rings = [r for m in members
                     for r in concave.make_valid_polygon(m)]
        pts = np.vstack([m[0] for m in members])
        px = rng.uniform(pts[:, 0].min() - 50, pts[:, 0].max() + 50, 3000)
        py = rng.uniform(pts[:, 1].min() - 50, pts[:, 1].max() + 50, 3000)
        # kernel: per-member XOR of (outer XOR holes)
        want = np.zeros(len(px), dtype=bool)
        for m in members:
            want |= concave.points_in_rings(
                px, py, concave.make_valid_polygon(m))
        # SQL-parity form: ONE xor accumulator over every ring
        got = concave.points_in_rings(px, py, all_rings)
        assert (got == want).all()
