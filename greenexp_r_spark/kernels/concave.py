"""General (concave) polygon geometry — VERDICT r02 'What's missing #1'.

The reference handles arbitrary OSM polygons through GEOS
(st_make_valid accessibility.R:210, st_intersection
canopy_coverage.R:334-345).  kernels/geom.py covers the convex fixture
surface; this module adds the concave cases without shapely:

  * even-odd ray-cast point-in-polygon (any simple polygon),
    vectorized over points;
  * ear-clipping triangulation (any simple polygon, CW or CCW);
  * exact intersection area of a simple polygon with a CONVEX clip
    (triangulate the subject, Sutherland–Hodgman each triangle —
    triangles are convex, so geom.clip_convex is exact per piece and
    areas add);
  * make_valid_general: orientation + duplicate-vertex cleaning that
    accepts concave rings (raises only on genuinely degenerate input).

Everything is plain numpy, usable inside Arrow batches.
"""

from __future__ import annotations

import numpy as np

from . import geom


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      ring: np.ndarray) -> np.ndarray:
    """Even-odd (crossing-number) containment for any simple polygon,
    vectorized over the point arrays; loop is over polygon edges only.
    Matches the SQL ray-cast used by the q_greenspace_concave oracle:
    edge (x1,y1)-(x2,y2) crosses the eastward ray from (px,py) iff
    (y1 > py) != (y2 > py) and px < x1 + (py-y1)(x2-x1)/(y2-y1)."""
    ring = np.asarray(ring, dtype=float)
    x1, y1 = ring[:, 0], ring[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    inside = np.zeros(np.shape(px), dtype=bool)
    for i in range(len(ring)):
        if y1[i] == y2[i]:
            continue
        straddle = (y1[i] > py) != (y2[i] > py)
        xi = x1[i] + (py - y1[i]) * (x2[i] - x1[i]) / (y2[i] - y1[i])
        inside ^= straddle & (px < xi)
    return inside


def _is_ear(ring: np.ndarray, i: int) -> bool:
    n = len(ring)
    a, b, c = ring[i - 1], ring[i], ring[(i + 1) % n]
    cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    if cross <= 0:                       # reflex or degenerate (CCW ring)
        return False
    # no other vertex strictly inside triangle a-b-c
    for j in range(n):
        if j in (i - 1 if i > 0 else n - 1, i, (i + 1) % n):
            continue
        p = ring[j]
        d1 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
        d2 = (c[0] - b[0]) * (p[1] - b[1]) - (c[1] - b[1]) * (p[0] - b[0])
        d3 = (a[0] - c[0]) * (p[1] - c[1]) - (a[1] - c[1]) * (p[0] - c[0])
        if d1 > 0 and d2 > 0 and d3 > 0:
            return False
    return True


def triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple polygon (any orientation);
    returns n−2 CCW triangles.  O(n²) — polygon rings here are tens of
    vertices, and the result is computed once per polygon inside an
    Arrow batch (or once at plan build for broadcast fixtures)."""
    ring = np.asarray(ring, dtype=float)
    if abs(geom.polygon_area(ring)) < 1e-12:
        raise ValueError("degenerate ring")
    if geom.polygon_area(ring) < 0:
        ring = ring[::-1]
    verts = list(ring)
    tris = []
    guard = 0
    while len(verts) > 3:
        n = len(verts)
        clipped = False
        for i in range(n):
            if _is_ear(np.asarray(verts), i):
                a, b, c = verts[i - 1], verts[i], verts[(i + 1) % n]
                tris.append(np.array([a, b, c]))
                del verts[i]
                clipped = True
                break
        guard += 1
        if not clipped or guard > 10_000:
            raise ValueError("ear clipping failed: non-simple ring?")
    tris.append(np.asarray(verts))
    return tris


def intersection_area_concave(subject: np.ndarray,
                              clip_convex_ring: np.ndarray) -> float:
    """|subject ∩ clip| for a simple (possibly concave) subject and a
    convex clip: triangulate the subject, clip each triangle
    (convex-convex Sutherland–Hodgman is exact), sum areas."""
    total = 0.0
    for tri in triangulate(subject):
        total += geom.intersection_area(tri, clip_convex_ring)
    return total


def make_valid_general(ring: np.ndarray) -> np.ndarray:
    """st_make_valid for simple rings of any convexity: drop repeated
    consecutive vertices, enforce CCW.  (Self-intersecting input still
    raises — via triangulate's simplicity guard — mirroring GEOS
    buffer(0) rejecting unrepairable rings.)"""
    ring = np.asarray(ring, dtype=float)
    keep = np.any(ring != np.roll(ring, 1, axis=0), axis=1)
    ring = ring[keep]
    if len(ring) < 3:
        raise ValueError("degenerate ring")
    if geom.polygon_area(ring) < 0:
        ring = ring[::-1]
    return ring


# --------------------- polygons with interior rings / multipolygons
#
# The reference gets holed OSM greenspace (lakes in parks) through
# GEOS (st_make_valid accessibility.R:210, st_intersection
# canopy_coverage.R:334-345).  A polygon-with-holes is a list of
# rings: rings[0] is the outer shell, rings[1:] are interior holes; a
# multipolygon is a list of such polygons.  All predicates reduce to
# EVEN-ODD PARITY over the union of every ring's edge set — inside
# the outer flips parity once, inside a hole flips it back — which is
# exactly what the shared SQL ray-cast oracle computes when hole
# edges are added to the same park_id's edge rows.


def make_valid_polygon(rings: list[np.ndarray]) -> list[np.ndarray]:
    """st_make_valid for one polygon with optional holes: each ring is
    cleaned by make_valid_general (all normalized CCW — parity-based
    predicates are orientation-free); every hole must lie strictly
    inside the outer shell and holes must not nest (parity would
    silently re-include doubly-holed regions, so reject instead)."""
    if not rings:
        raise ValueError("polygon needs at least an outer ring")
    out = [make_valid_general(r) for r in rings]
    outer, holes = out[0], out[1:]
    for h in holes:
        if not points_in_polygon(h[:, 0], h[:, 1], outer).all():
            raise ValueError("hole vertex outside the outer shell")
    for i, a in enumerate(holes):
        for b in holes[i + 1:]:
            if points_in_polygon(a[:1, 0], a[:1, 1], b).any() or \
                    points_in_polygon(b[:1, 0], b[:1, 1], a).any():
                raise ValueError("nested holes are not representable")
    return out


def points_in_rings(px: np.ndarray, py: np.ndarray,
                    rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment against a RING SET (polygon with holes, or
    every ring of a multipolygon with disjoint members): XOR of the
    per-ring crossing parities — one parity accumulator over the union
    of edge sets, identical to the SQL oracle's COUNT(*) % 2 when all
    rings share one park_id."""
    inside = np.zeros(np.shape(px), dtype=bool)
    for ring in rings:
        inside ^= points_in_polygon(px, py, ring)
    return inside


def intersection_area_holes(rings: list[np.ndarray],
                            clip_convex_ring: np.ndarray) -> float:
    """|polygon-with-holes ∩ convex clip| = |outer ∩ clip| −
    Σ|hole ∩ clip| — valid because holes are disjoint and inside the
    outer, so their clipped pieces never overlap each other and are
    fully contained in the outer's clipped piece.  Each term uses the
    concave-subject convex-clip decomposition (triangulate → clip →
    sum)."""
    total = intersection_area_concave(rings[0], clip_convex_ring)
    for h in rings[1:]:
        total -= intersection_area_concave(h, clip_convex_ring)
    return total
