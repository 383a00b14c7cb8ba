"""Pure-numpy computational geometry (SURVEY P2/P5/P6/P7/P11, J4/U3).

shapely is not available in this container (SURVEY.md §7 plan B), so
the vector-geometry surface is implemented directly:

    WKB linestring/polygon encode/decode (little-endian, geometry
    types 2/3/5/6 — the fixture world is polygons and road lines)
    polygon area / centroid (shoelace)
    point-in-convex-polygon (half-plane test, vectorized over points)
    convex hull (Andrew monotone chain)
    convex clip (Sutherland–Hodgman against a convex clip polygon)
    disc→polygon approximation (regular k-gon)

All fixture polygons are convex (regular k-gons, FIXTURES.md §2), so
convex algorithms are exact for the parity surface; the functions
raise on misuse rather than silently accepting concave clips.  A real
deployment swaps this module for shapely 2.x vectorized calls — the
operator code depends only on these function signatures.
"""

from __future__ import annotations

import struct

import numpy as np

WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTILINESTRING = 5


# ---------------------------------------------------------------- WKB

def wkb_linestring(pts: np.ndarray) -> bytes:
    """pts: (n, 2) vertex sequence, n >= 2."""
    pts = np.asarray(pts, dtype=float)
    return (struct.pack("<BII", 1, WKB_LINESTRING, len(pts))
            + np.ascontiguousarray(pts, dtype="<f8").tobytes())


def parse_wkb_linestring(b: bytes) -> np.ndarray:
    byte_order, typ = struct.unpack_from("<BI", b, 0)
    if byte_order != 1 or typ != WKB_LINESTRING:
        raise ValueError(f"not a WKB linestring: order={byte_order} "
                         f"type={typ}")
    (n,) = struct.unpack_from("<I", b, 5)
    return np.frombuffer(b, dtype="<f8", count=2 * n, offset=9) \
        .reshape(n, 2).copy()


def wkb_multilinestring(parts: list) -> bytes:
    """parts: list of (n_i, 2) vertex arrays."""
    out = [struct.pack("<BII", 1, WKB_MULTILINESTRING, len(parts))]
    for p in parts:
        out.append(wkb_linestring(p))
    return b"".join(out)


def parse_wkb_lines(b: bytes) -> list:
    """Any (MULTI)LINESTRING → list of (n, 2) vertex arrays — the
    road-layer analog of parse_wkb_rings (vgvi_from_sf.R:97 accepts 6
    geometry types; roads arrive as these two)."""
    byte_order, typ = struct.unpack_from("<BI", b, 0)
    if byte_order != 1:
        raise ValueError("big-endian WKB unsupported")
    if typ == WKB_LINESTRING:
        return [parse_wkb_linestring(b)]
    if typ != WKB_MULTILINESTRING:
        raise ValueError(f"not a (multi)linestring: type {typ}")
    (n,) = struct.unpack_from("<I", b, 5)
    parts, off = [], 9
    for _ in range(n):
        (m,) = struct.unpack_from("<I", b, off + 5)
        parts.append(np.frombuffer(b, dtype="<f8", count=2 * m,
                                   offset=off + 9).reshape(m, 2).copy())
        off += 9 + 16 * m
    return parts


def wkb_polygon(ring: np.ndarray) -> bytes:
    """ring: (n, 2) open ring (first vertex not repeated)."""
    ring = np.asarray(ring, dtype=float)
    n = len(ring)
    out = [struct.pack("<BII I", 1, WKB_POLYGON, 1, n + 1)]
    for x, y in ring:
        out.append(struct.pack("<dd", x, y))
    out.append(struct.pack("<dd", ring[0, 0], ring[0, 1]))
    return b"".join(out)


def parse_wkb_polygon(b: bytes) -> np.ndarray:
    """Returns the (n, 2) open exterior ring."""
    byte_order, typ = struct.unpack_from("<BI", b, 0)
    if byte_order != 1 or typ != WKB_POLYGON:
        raise ValueError(f"unsupported WKB: order={byte_order} type={typ}")
    (n_rings,) = struct.unpack_from("<I", b, 5)
    if n_rings < 1:
        raise ValueError("empty polygon")
    (n_pts,) = struct.unpack_from("<I", b, 9)
    coords = np.frombuffer(b, dtype="<f8", count=2 * n_pts, offset=13)
    ring = coords.reshape(n_pts, 2)
    return ring[:-1].copy()          # drop closing vertex


def wkb_polygon_rings(rings: list) -> bytes:
    """Encode a POLYGON with interior rings (rings[0] = shell,
    rings[1:] = holes); each ring open, closing vertex added here."""
    out = [struct.pack("<BII", 1, WKB_POLYGON, len(rings))]
    for r in rings:
        r = np.asarray(r, dtype=float)
        out.append(struct.pack("<I", len(r) + 1))
        out.append(np.ascontiguousarray(r, dtype="<f8").tobytes())
        out.append(struct.pack("<dd", r[0, 0], r[0, 1]))
    return b"".join(out)


def _polygon_rings_at(b: bytes, off: int) -> tuple[list, int]:
    (n_rings,) = struct.unpack_from("<I", b, off + 5)
    rings, p = [], off + 9
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from("<I", b, p)
        coords = np.frombuffer(b, dtype="<f8", count=2 * n_pts,
                               offset=p + 4)
        rings.append(coords.reshape(n_pts, 2)[:-1].copy())
        p += 4 + 16 * n_pts
    return rings, p


def parse_wkb_rings(b: bytes) -> list:
    """Any (MULTI)POLYGON → list of members, each a list of open rings
    (shell first, then holes).  The general OSM-shaped decode: plain
    POLYGON gives one member; every interior ring is preserved."""
    byte_order, typ = struct.unpack_from("<BI", b, 0)
    if byte_order != 1:
        raise ValueError("big-endian WKB unsupported")
    if typ == WKB_POLYGON:
        rings, _ = _polygon_rings_at(b, 0)
        return [rings]
    if typ != 6:
        raise ValueError(f"not a (multi)polygon: type {typ}")
    (n,) = struct.unpack_from("<I", b, 5)
    members, off = [], 9
    for _ in range(n):
        rings, off = _polygon_rings_at(b, off)
        members.append(rings)
    return members


def wkb_multipolygon_rings(members: list) -> bytes:
    """Encode a MULTIPOLYGON whose members may carry interior rings."""
    out = [struct.pack("<BII", 1, 6, len(members))]
    for rings in members:
        out.append(wkb_polygon_rings(rings))
    return b"".join(out)


# ------------------------------------------------------------- basics

def polygon_area(ring: np.ndarray) -> float:
    """Shoelace area (positive for CCW rings) — P11."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def polygon_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid — P2 (st_centroid)."""
    x, y = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(x.mean()), float(y.mean())
    cx = ((x + xn) * cross).sum() / (6.0 * a)
    cy = ((y + yn) * cross).sum() / (6.0 * a)
    return float(cx), float(cy)


def is_convex(ring: np.ndarray) -> bool:
    v = np.roll(ring, -1, axis=0) - ring
    cross = v[:, 0] * np.roll(v, -1, axis=0)[:, 1] \
        - v[:, 1] * np.roll(v, -1, axis=0)[:, 0]
    return bool((cross >= 0).all() or (cross <= 0).all())


def regular_polygon(cx: float, cy: float, radius: float,
                    k: int) -> np.ndarray:
    """Disc approximated by a regular k-gon (vertex 0 due east), CCW."""
    ang = 2.0 * np.pi * np.arange(k) / k
    return np.stack([cx + radius * np.cos(ang),
                     cy + radius * np.sin(ang)], axis=1)


# ----------------------------------------------- point-in-convex-poly

def points_in_convex_polygon(px: np.ndarray, py: np.ndarray,
                             ring: np.ndarray) -> np.ndarray:
    """Vectorized half-plane containment test (boundary counts as
    inside).  Requires a convex CCW ring."""
    ring = np.asarray(ring, dtype=float)
    if polygon_area(ring) < 0:
        ring = ring[::-1]
    inside = np.ones(np.shape(px), dtype=bool)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        inside &= (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) >= 0
    return inside


# ------------------------------------------------------- convex hull

def _turn_sign(o, a, p) -> int:
    """Exact sign of cross(o→a, o→p).  The float expression first;
    only when it lands on 0 (a collinear verdict that underflow or
    rounding can fake — hypothesis found a subnormal-coordinate case
    where the product 2.2e-16·2.2e-311 flushed to zero and popped a
    genuine hull vertex) re-derive the sign in exact rational
    arithmetic.  Every float is an exact rational, so Fraction gives
    the true sign; for integer-valued world coordinates the float
    path is already exact and the slow path never runs."""
    t1 = (a[0] - o[0]) * (p[1] - o[1])
    t2 = (a[1] - o[1]) * (p[0] - o[0])
    c = t1 - t2
    # Shewchuk's orient2d static filter (ccwerrboundA): outside this
    # bound the float sign is provably correct
    if abs(c) > 3.3306690738754716e-16 * (abs(t1) + abs(t2)):
        return 1 if c > 0 else -1
    try:
        from fractions import Fraction as Fr
        ox, oy = Fr(float(o[0])), Fr(float(o[1]))
        ce = ((Fr(float(a[0])) - ox) * (Fr(float(p[1])) - oy)
              - (Fr(float(a[1])) - oy) * (Fr(float(p[0])) - ox))
        return (ce > 0) - (ce < 0)
    except (OverflowError, ValueError):
        # non-finite coordinate (inf/nan): no exact answer exists —
        # degrade to the float verdict like the pre-filter code did
        return 1 if c > 0 else (-1 if c < 0 else 0)


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew monotone chain — P5 (st_convex_hull).  Returns the CCW
    hull ring (open)."""
    pts = np.unique(np.asarray(points, dtype=float), axis=0)
    if len(pts) <= 2:
        return pts
    # lexicographic sort
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2:
                if _turn_sign(out[-2], out[-1], p) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


# ---------------------------------------------- Sutherland–Hodgman

def clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Clip polygon `subject` by convex CCW polygon `clip`
    (Sutherland–Hodgman) — the exact-geometry variant of J4
    (st_intersection).  Returns the (possibly empty) clipped ring."""
    clip = np.asarray(clip, dtype=float)
    if polygon_area(clip) < 0:
        clip = clip[::-1]
    if not is_convex(clip):
        raise ValueError("clip polygon must be convex")
    out = list(np.asarray(subject, dtype=float))
    n = len(clip)
    for i in range(n):
        if not out:
            return np.zeros((0, 2))
        x1, y1 = clip[i]
        x2, y2 = clip[(i + 1) % n]
        inp = out
        out = []

        def side(p):
            return (x2 - x1) * (p[1] - y1) - (y2 - y1) * (p[0] - x1)

        def inter(a, bpt):
            da, db = side(a), side(bpt)
            t = da / (da - db)
            return (a[0] + t * (bpt[0] - a[0]), a[1] + t * (bpt[1] - a[1]))

        for j, cur in enumerate(inp):
            prev = inp[j - 1]
            cur_in = side(cur) >= 0
            prev_in = side(prev) >= 0
            if cur_in:
                if not prev_in:
                    out.append(inter(prev, cur))
                out.append(tuple(cur))
            elif prev_in:
                out.append(inter(prev, cur))
    return np.array(out) if out else np.zeros((0, 2))


def make_valid(ring: np.ndarray) -> np.ndarray:
    """P7 (st_make_valid) for the convex fixture surface: enforce CCW
    orientation and drop consecutive duplicate vertices; raises on
    self-intersecting (non-convex after cleaning) rings, which the
    fixture world never produces."""
    ring = np.asarray(ring, dtype=float)
    keep = np.any(ring != np.roll(ring, 1, axis=0), axis=1)
    ring = ring[keep]
    if polygon_area(ring) < 0:
        ring = ring[::-1]
    if not is_convex(ring):
        raise ValueError("non-convex ring: full make_valid requires a "
                         "general geometry library")
    return ring


def aggregate_block_mean(values: np.ndarray, nrow: int, ncol: int,
                         fact: int) -> np.ndarray:
    """V10 (terra::aggregate fact=k): coarsen a raster by block-mean —
    the reference's resolution knob for viewshed cost
    (vgvi_from_sf.R:226-230).  nrow/ncol must be divisible by fact."""
    if nrow % fact or ncol % fact:
        raise ValueError("aggregate: dims not divisible by fact")
    a = np.asarray(values, dtype=float).reshape(nrow, ncol)
    return a.reshape(nrow // fact, fact, ncol // fact, fact) \
            .mean(axis=(1, 3)).reshape(-1)


def intersection_area(subject: np.ndarray, clip: np.ndarray) -> float:
    """|subject ∩ clip| for convex inputs (J4 clipped area,
    canopy_coverage.R:334-345)."""
    c = clip_convex(subject, clip)
    if len(c) < 3:
        return 0.0
    return abs(polygon_area(c))
