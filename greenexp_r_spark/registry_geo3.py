"""Registry section 4 (round 3): concave-polygon cover, network
subdivision/smoothing, cell-index kNN, and the hash-exact flat-world
viewshed.  Every entry here is oracle-backed (exact)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from . import constants as C
from . import world
from .dialect import DUCK, Dialect
from .kernels import concave as CK
from .operators import netprep
from .registry import QSpec, _buffer_cells_sql
from .sources import pages as P

# ------------------------------------------------------ concave parks
#
# Fixture: 12 concave greenspace polygons (L / plus / 4-point star
# templates, integer vertices) — the geometry class the reference gets
# from real OSM via GEOS (st_make_valid accessibility.R:210,
# st_intersection canopy_coverage.R:334-345) and that the convex-only
# round-2 kernels rejected.

_L = [(0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4)]
_PLUS = [(1, 0), (2, 0), (2, 1), (3, 1), (3, 2), (2, 2),
         (2, 3), (1, 3), (1, 2), (0, 2), (0, 1), (1, 1)]
_STAR = [(0, 4), (1, 1), (4, 0), (1, -1), (0, -4), (-1, -1),
         (-4, 0), (-1, 1)]
_TEMPLATES = [_L, _PLUS, _STAR]
N_CONCAVE = 12
CONCAVE_RES = 10


def concave_park_ring(g: int) -> np.ndarray:
    """Integer-vertex ring of concave park g (deterministic)."""
    t = _TEMPLATES[g % 3]
    s = 60 + 20 * ((g * 7) % 5)
    bx = 1500 + (g * 5791) % 17000
    by = 1500 + (g * 9973) % 17000
    return np.array([(bx + tx * s, by + ty * s) for tx, ty in t],
                    dtype=float)


def _concave_edge_rows() -> list[tuple[int, int, int, int, int]]:
    rows = []
    for g in range(N_CONCAVE):
        ring = CK.make_valid_general(concave_park_ring(g))
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append((g, int(x1), int(y1), int(x2), int(y2)))
    return rows


def _concave_bbox_rows() -> list[tuple[int, int, int, int, int]]:
    rows = []
    for g in range(N_CONCAVE):
        ring = concave_park_ring(g)
        rows.append((g, int(ring[:, 0].min()), int(ring[:, 1].min()),
                     int(ring[:, 0].max()), int(ring[:, 1].max())))
    return rows


def _residue_cell_counts(res: int, buffer_m: int
                         ) -> list[tuple[int, int, int]]:
    """(x mod res, y mod res) → buffer-disc cell count, replicating
    _buffer_cells_sql's membership predicate exactly for integer
    coordinates: all quantities ((ci+0.5)·res − x, squares, the R²
    comparison) are exactly representable doubles, so the numpy count
    equals the SQL COUNT for every point with those residues."""
    import math
    out = []
    for rx in range(res):
        for ry in range(res):
            ci = np.arange(math.floor((rx - buffer_m) / res),
                           math.floor((rx + buffer_m) / res) + 1)
            cj = np.arange(math.floor((ry - buffer_m) / res),
                           math.floor((ry + buffer_m) / res) + 1)
            dx = (ci + 0.5) * res - rx
            dy = (cj + 0.5) * res - ry
            n = int((((dx * dx)[:, None] + (dy * dy)[None, :])
                     <= float(buffer_m) ** 2).sum())
            out.append((rx, ry, n))
    return out


def _values_rel(d: Dialect, rows, alias: str, cols: list[str]) -> str:
    body = ", ".join("(" + ", ".join(str(v) for v in r) + ")"
                     for r in rows)
    if d.name == "spark":
        return f"(SELECT * FROM VALUES {body} AS {alias}({', '.join(cols)}))"
    return f"(SELECT * FROM (VALUES {body}) AS {alias}({', '.join(cols)}))"


def _cell_cover_sql(d: Dialect, edge_rows, bbox_rows,
                    out_name: str) -> str:
    """Shared text (both engines): % of buffer raster cells whose
    center lies inside ANY park of the given ring set, by even-odd ray
    cast — same crossing predicate as
    kernels/concave.points_in_polygon / points_in_rings.  Cell centers
    sit at integer+5 ordinates while vertices are integers, so no ray
    ever passes through a vertex and the parity test is unambiguous;
    the crossing-x expression is written identically on both sides
    (exact-or-identical float rounding).  Interior rings (holes) and
    multipolygon members need only MORE EDGE ROWS under the same
    park_id: parity flips once entering the outer shell and once more
    entering a lake, so holed cells count as uncovered — the SQL text
    is unchanged."""
    edges = _values_rel(d, edge_rows, "pe",
                        ["park_id", "x1", "y1", "x2", "y2"])
    boxes = _values_rel(d, bbox_rows, "pb",
                        ["park_id", "bxmin", "bymin", "bxmax", "bymax"])
    res = CONCAVE_RES
    # bbox candidate generation as a BUCKETED EQUI-join (the 100 TB
    # plan shape): park bboxes explode to coarse grid buckets, each
    # cell computes its bucket, and the join key is (gx, gy) — a
    # broadcast HASH join in Catalyst instead of the
    # BroadcastNestedLoopJoin a raw range predicate produces over the
    # corpus-scaling cells side.  Exactness: cell centers end in .5·res
    # so cx/G never lands on a bucket boundary, and integer bbox / G
    # floors identically in both engines; the precise bbox predicate
    # stays as a residual filter.
    G = 2000
    R = C.BUFFER_M
    boxes_g = d.explode_range(
        d.explode_range(f"SELECT * FROM {boxes} _pb", "gx",
                        f"CAST(FLOOR((bxmin - {R}) / {G}) AS BIGINT)",
                        f"CAST(FLOOR((bxmax + {R}) / {G}) AS BIGINT)"),
        "gy",
        f"CAST(FLOOR((bymin - {R}) / {G}) AS BIGINT)",
        f"CAST(FLOOR((bymax + {R}) / {G}) AS BIGINT)")
    # per-point cell COUNT from the 10×10 residue pattern: the buffer
    # disc's grid-aligned cell membership depends only on (x mod res,
    # y mod res) for integer coordinates, so the denominator needs NO
    # cell enumeration at all — the pattern literal replicates the
    # cells-CTE predicate with exact integer/float arithmetic (numpy
    # doubles ≡ SQL doubles on these values).  Cells are then
    # enumerated ONLY for points whose buffer bucket touches a park
    # bucket — the corpus-scaling denominator work drops from
    # O(points·cells) to O(points-near-parks·cells) (measured 5.8 s of
    # a 6.6 s query at sf0.1 was the full enumeration).
    pat = _values_rel(d, _residue_cell_counts(res, R), "pc",
                      ["rx", "ry", "n_cells"])
    pts_g = d.explode_range(
        d.explode_range("SELECT point_id, x, y FROM points", "pgx",
                        f"CAST(FLOOR((x - {R}) / {G}) AS BIGINT)",
                        f"CAST(FLOOR((x + {R}) / {G}) AS BIGINT)"),
        "pgy",
        f"CAST(FLOOR((y - {R}) / {G}) AS BIGINT)",
        f"CAST(FLOOR((y + {R}) / {G}) AS BIGINT)")
    return f"""
WITH points AS ({world.points_sql(d)}),
boxes_g AS ({boxes_g}),
pts_near AS (
  SELECT DISTINCT p.point_id, p.x, p.y
  FROM ({pts_g}) p
  JOIN (SELECT DISTINCT gx, gy FROM boxes_g) bg
    ON bg.gx = p.pgx AND bg.gy = p.pgy
),
cells AS ({_buffer_cells_sql(d, res, C.BUFFER_M,
                             src="SELECT point_id, x, y FROM pts_near")}),
cand AS (
  SELECT c.point_id, c.ci, c.cj, b.park_id,
         (c.ci + 0.5) * {res} AS cx, (c.cj + 0.5) * {res} AS cy
  FROM cells c JOIN boxes_g b
    ON CAST(FLOOR((c.ci + 0.5) * {res} / {G}) AS BIGINT) = b.gx
   AND CAST(FLOOR((c.cj + 0.5) * {res} / {G}) AS BIGINT) = b.gy
   AND (c.ci + 0.5) * {res} >= b.bxmin AND (c.ci + 0.5) * {res} <= b.bxmax
   AND (c.cj + 0.5) * {res} >= b.bymin AND (c.cj + 0.5) * {res} <= b.bymax
),
crossings AS (
  SELECT c.point_id, c.ci, c.cj, c.park_id, COUNT(*) AS nx
  FROM cand c JOIN {edges} e ON e.park_id = c.park_id
  WHERE (e.y1 > c.cy) <> (e.y2 > c.cy)
    AND c.cx < e.x1 + (c.cy - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
  GROUP BY c.point_id, c.ci, c.cj, c.park_id
),
covered AS (
  SELECT DISTINCT point_id, ci, cj FROM crossings WHERE nx % 2 = 1
),
g AS (SELECT point_id, COUNT(*) AS g FROM covered GROUP BY point_id),
n AS (
  SELECT p.point_id, CAST(t.n_cells AS BIGINT) AS n_cells
  FROM points p JOIN {pat} t
    ON t.rx = CAST(p.x AS BIGINT) % {res}
   AND t.ry = CAST(p.y AS BIGINT) % {res}
)
SELECT n.point_id,
       LEAST(CAST(COALESCE(g.g, 0) AS DOUBLE) / CAST(n.n_cells AS DOUBLE)
             * 100.0, 100.0) AS {out_name},
       n.n_cells AS n_cells
FROM n LEFT JOIN g ON n.point_id = g.point_id
"""


def greenspace_concave_sql(d: Dialect) -> str:
    return _cell_cover_sql(d, _concave_edge_rows(), _concave_bbox_rows(),
                           "greenspace_concave_pct")


def greenspace_holes_sql(d: Dialect) -> str:
    return _cell_cover_sql(d, _holed_edge_rows(), _holed_bbox_rows(),
                           "greenspace_holes_pct")


def greenspace_shapes_sql(d: Dialect) -> str:
    """Concave + holed/multipolygon cell-cover merged into ONE gate
    entry tagged by `kind` (r5 slot-consolidation).  Each branch keeps
    its own park layer; the shared text still runs verbatim on both
    engines, so the entry stays hash-exact by construction."""
    return f"""
SELECT 'concave' AS kind, point_id, greenspace_concave_pct AS pct, n_cells
FROM ({greenspace_concave_sql(d)}) _c
UNION ALL
SELECT 'holes' AS kind, point_id, greenspace_holes_pct AS pct, n_cells
FROM ({greenspace_holes_sql(d)}) _h
"""


def _run_shared_sql(s, sf, sql_text: str):
    # the shared text reads FROM documents (like the DuckDB oracle);
    # expose the driver parquet under that name for the Spark render
    # shared-SQL consumers are aggregation-shaped; A/B showed the
    # widen exchange slower than the raw scan (0.45 s vs 0.74 s)
    P.documents_df(s, sf).createOrReplaceTempView("documents")
    return s.sql(sql_text)


def _q_greenspace_shapes(s, sf):
    from .dialect import SPARK
    return _run_shared_sql(s, sf, greenspace_shapes_sql(SPARK))


# -------------------------------------- holed + multipolygon parks
#
# VERDICT r03 'What's missing #1' / 'Next round #1': the first
# real-OSM geometry class a user hits — parks with lakes (interior
# rings) and multipolygon parks — as a hash-exact gate query.  The
# fixture keeps every vertex on the integer lattice: hole templates
# use quarter-unit offsets and every scale s is a multiple of 20, so
# 0.25·s stays integer.

_SQ = [(0, 0), (4, 0), (4, 4), (0, 4)]
# (outer template, hole templates) — holes strictly inside the outer
_HOLED_TEMPLATES = [
    (_L, [[(1.5, 0.25), (2.5, 0.25), (2.5, 0.75), (1.5, 0.75)]]),
    (_PLUS, [[(1.25, 1.25), (1.75, 1.25), (1.75, 1.75), (1.25, 1.75)]]),
    (_SQ, [[(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5)],
           [(2.5, 2.5), (3.5, 2.5), (3.5, 3.5), (2.5, 3.5)]]),
    (_STAR, [[(-0.5, -0.5), (0.5, -0.5), (0.5, 0.5), (-0.5, 0.5)]]),
]
N_HOLED = 10            # 8 single holed polygons + 2 multipolygons


def _scale_ring(t, s, bx, by) -> np.ndarray:
    return np.array([(bx + tx * s, by + ty * s) for tx, ty in t],
                    dtype=float)


def holed_park_rings(g: int) -> list[list[np.ndarray]]:
    """Park g as a MULTIPOLYGON: list of members, each member a list
    of rings (outer first, then holes).  Parks 0-7 are one holed
    polygon; parks 8-9 are two-member multipolygons (park 9's second
    member itself has a lake).  All vertices integer (scales are
    multiples of 20; templates use quarter units)."""
    outer_t, holes_t = _HOLED_TEMPLATES[g % 4]
    s = 80 + 20 * ((g * 3) % 4)                       # 80/100/120/140
    bx = 2000 + (g * 6151) % 15000
    by = 2000 + (g * 8233) % 15000
    member = [_scale_ring(outer_t, s, bx, by)] + [
        _scale_ring(h, s, bx, by) for h in holes_t]
    if g < 8:
        return [member]
    # multipolygon: a second, disjoint member ~1.2 km away
    o2_t, h2_t = _HOLED_TEMPLATES[(g + 2) % 4]
    bx2, by2 = bx + 1200, by + 1200
    member2 = [_scale_ring(o2_t, 80, bx2, by2)]
    if g == 9:
        member2 += [_scale_ring(h, 80, bx2, by2) for h in h2_t]
    return [member, member2]


def _holed_edge_rows() -> list[tuple[int, int, int, int, int]]:
    rows = []
    for g in range(N_HOLED):
        for member in holed_park_rings(g):
            for ring in CK.make_valid_polygon(member):
                for i in range(len(ring)):
                    x1, y1 = ring[i]
                    x2, y2 = ring[(i + 1) % len(ring)]
                    rows.append((g, int(x1), int(y1), int(x2), int(y2)))
    return rows


def _holed_bbox_rows() -> list[tuple[int, int, int, int, int]]:
    rows = []
    for g in range(N_HOLED):
        pts = np.vstack([m[0] for m in holed_park_rings(g)])
        rows.append((g, int(pts[:, 0].min()), int(pts[:, 1].min()),
                     int(pts[:, 0].max()), int(pts[:, 1].max())))
    return rows


# --------------------------------------------- geometry-property layer
#
# r5: the q_geom_props gate entry promotes the pytest-only P2/P4/P6/
# P11/P12 operators to hash-exact.  The layer unions the holed/
# multipolygon parks (WKB MULTIPOLYGON, park_id 0-9) with the concave
# parks re-encoded as plain WKB POLYGON (park_id 100+g) so both type
# branches of the decoder are exercised.

CONCAVE_PROPS_OFFSET = 100


def props_layer_wkb_df(spark):
    """(park_id, geom_wkb): every fixture park as one WKB geometry."""
    from .kernels import geom as G
    rows = []
    for g in range(N_HOLED):
        members = [CK.make_valid_polygon(m) for m in holed_park_rings(g)]
        rows.append((g, bytearray(G.wkb_multipolygon_rings(members))))
    for g in range(N_CONCAVE):
        ring = CK.make_valid_general(concave_park_ring(g))
        rows.append((CONCAVE_PROPS_OFFSET + g,
                     bytearray(G.wkb_polygon(ring))))
    return spark.createDataFrame(rows, "park_id long, geom_wkb binary")


def _props_ring_edge_rows() -> list[tuple]:
    """(park_id, member_i, ring_i, sgn, x1, y1, x2, y2): ordered ring
    edges of the props layer after the SAME make_valid normalization
    (all rings CCW); sgn = +1 shell / −1 hole."""
    rows = []

    def emit(pid, mi, ri, ring):
        sgn = 1 if ri == 0 else -1
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append((pid, mi, ri, sgn,
                         int(x1), int(y1), int(x2), int(y2)))

    for g in range(N_HOLED):
        for mi, member in enumerate(holed_park_rings(g)):
            for ri, ring in enumerate(CK.make_valid_polygon(member)):
                emit(g, mi, ri, ring)
    for g in range(N_CONCAVE):
        emit(CONCAVE_PROPS_OFFSET + g, 0, 0,
             CK.make_valid_general(concave_park_ring(g)))
    return rows


def _oracle_geom_props(d: Dialect) -> str:
    """Replays operators/geomprops.geometry_properties from the signed
    ring edge rows: integer shoelace/moment sums (BIGINT, exact), one
    final division each for area (÷2) and centroid (÷3·a2) written
    identically on both engines; bbox from shell edges only; the P4
    service radius is the speed×time arithmetic of accessibility.R:62-70."""
    edges = _values_rel(
        d, _props_ring_edge_rows(), "pe",
        ["park_id", "member_i", "ring_i", "sgn", "x1", "y1", "x2", "y2"])
    cross = ("(CAST(x1 AS BIGINT) * y2 - CAST(x2 AS BIGINT) * y1)")
    return f"""
WITH agg AS (
  SELECT park_id,
         COUNT(DISTINCT member_i) AS n_members,
         COUNT(DISTINCT CASE WHEN ring_i > 0
                             THEN member_i * 100 + ring_i END) AS n_holes,
         CAST(SUM(sgn * {cross}) AS BIGINT) AS a2,
         CAST(SUM(sgn * (CAST(x1 AS BIGINT) + x2) * {cross}) AS BIGINT)
             AS sx6,
         CAST(SUM(sgn * (CAST(y1 AS BIGINT) + y2) * {cross}) AS BIGINT)
             AS sy6,
         MIN(CASE WHEN ring_i = 0 THEN LEAST(x1, x2) END) AS bxmin,
         MIN(CASE WHEN ring_i = 0 THEN LEAST(y1, y2) END) AS bymin,
         MAX(CASE WHEN ring_i = 0 THEN GREATEST(x1, x2) END) AS bxmax,
         MAX(CASE WHEN ring_i = 0 THEN GREATEST(y1, y2) END) AS bymax
  FROM {edges} _e GROUP BY park_id
)
SELECT CAST(park_id AS BIGINT) AS park_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_holes AS BIGINT) AS n_holes,
       n_members > 1 AS is_multi,
       n_holes > 0 AS has_holes,
       CAST(a2 AS DOUBLE) / 2.0 AS area_m2,
       CAST(sx6 AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) AS centroid_x,
       CAST(sy6 AS DOUBLE) / (3.0 * CAST(a2 AS DOUBLE)) AS centroid_y,
       CAST(bxmin AS BIGINT) AS bxmin,
       CAST(bymin AS BIGINT) AS bymin,
       CAST(bxmax AS BIGINT) AS bxmax,
       CAST(bymax AS BIGINT) AS bymax,
       5.0 * 1000.0 / 60.0 * CAST(5 + park_id % 20 AS DOUBLE)
           AS service_radius_m
FROM agg
"""


def _q_geom_props(s, sf):
    from .operators.geomprops import geometry_properties
    return geometry_properties(props_layer_wkb_df(s))


# ------------------------------------------- V10 AOI crop + aggregate

AOI_BM = {"xmin": 4000.0, "xmax": 8000.0,
          "ymin": 3000.0, "ymax": 7000.0, "fact": 32}


def _oracle_aoi_blockmean(d: Dialect) -> str:
    """Replays operators/zonal_tiles.aoi_block_mean: per 32×32 block
    with center inside the AOI, the NA→0 NDVI integer field's mean
    (SUM/1024 — the divisor is a power of two and the sum is integer,
    so the mean is exactly representable) and the NA cell count."""
    import math
    a, fact = AOI_BM, AOI_BM["fact"]
    bspan = fact * C.NDVI_RES
    half = bspan / 2.0
    lo = lambda v: math.ceil((v - half) / bspan)
    hi = lambda v: math.ceil((v - half) / bspan) - 1
    bi_lo, bi_hi = lo(a["xmin"]), hi(a["xmax"])
    bj_lo, bj_hi = lo(a["ymin"]), hi(a["ymax"])
    cells = d.explode_range(
        d.explode_range(
            d.explode_range("SELECT 1 AS one", "bi", str(bi_lo),
                            str(bi_hi)),
            "bj", str(bj_lo), str(bj_hi)),
        "u", "0", str(fact * fact - 1))
    ci = f"bi * {fact} + (u % {fact})"
    cj = f"bj * {fact} + ({d.floori(f'u / {fact}')})"
    v = world.ndvi_int_expr(ci, cj)
    h = world.cell_hash_expr(ci, cj, C.NDVI_H_A, C.NDVI_H_B)
    return f"""
SELECT CAST(bi AS BIGINT) AS bi, CAST(bj AS BIGINT) AS bj,
       CAST(SUM(CASE WHEN {h} % {C.NDVI_NA_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_na,
       CAST(SUM({v}) AS DOUBLE) / {float(fact * fact)} AS block_mean
FROM ({cells}) _c GROUP BY bi, bj
"""


def _q_aoi_blockmean(s, sf):
    from .operators.zonal_tiles import aoi_block_mean
    a = AOI_BM
    return aoi_block_mean(s, a["xmin"], a["xmax"], a["ymin"], a["ymax"],
                          fact=a["fact"])


# ------------------------------------------ network subdivision/smooth

def _oracle_subdivision(d: Dialect) -> str:
    """Structural fingerprint (node_id, degree, sum_len) of the
    subdivided + smoothed fixture graph.  Smoothing is replayed with a
    recursive chain walk: from every anchor-incident subdivided edge,
    follow the unique continuation through degree-2 pseudo nodes until
    hitting a non-deg-2 node; each walk's accumulated length is one
    incident smoothed edge.  All step lengths are exact (multiples of
    100), so sums match the engine's any-order aggregation."""
    return f"""
WITH RECURSIVE
verts AS ({netprep.segments_sql(d)}),
occ AS (SELECT node_id, COUNT(*) AS occ FROM verts GROUP BY node_id),
mx AS (SELECT seg_id, MAX(pos) AS maxpos FROM verts GROUP BY seg_id),
steps AS (
  SELECT seg_id, pos, node_id, vx, vy,
         SQRT(POWER(vx - LAG(vx) OVER (PARTITION BY seg_id ORDER BY pos), 2)
            + POWER(vy - LAG(vy) OVER (PARTITION BY seg_id ORDER BY pos), 2))
             AS step
  FROM verts
),
lens AS (
  SELECT s.seg_id, s.pos, s.node_id,
         COALESCE(SUM(s.step) OVER (PARTITION BY s.seg_id ORDER BY s.pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             CAST(0.0 AS DOUBLE)) AS cumlen,
         (s.pos = 0 OR s.pos = m.maxpos OR o.occ >= 2) AS is_cut
  FROM steps s
  JOIN occ o ON o.node_id = s.node_id
  JOIN mx m ON m.seg_id = s.seg_id
),
cuts AS (SELECT seg_id, pos, node_id, cumlen FROM lens WHERE is_cut),
sub0 AS (
  SELECT seg_id, node_id AS src,
         LEAD(node_id) OVER (PARTITION BY seg_id ORDER BY pos) AS dst,
         LEAD(cumlen) OVER (PARTITION BY seg_id ORDER BY pos) - cumlen
             AS length_m
  FROM cuts
),
sube AS (SELECT src, dst, length_m FROM sub0 WHERE dst IS NOT NULL),
bidir AS (
  SELECT src, dst, length_m FROM sube
  UNION ALL
  SELECT dst AS src, src AS dst, length_m FROM sube
),
deg AS (SELECT src AS node_id, COUNT(*) AS deg FROM bidir GROUP BY src),
walk(anchor, cur, prev, acc) AS (
  SELECT b.src, b.dst, b.src, b.length_m
  FROM bidir b JOIN deg d ON d.node_id = b.src
  WHERE d.deg <> 2
  UNION ALL
  SELECT w.anchor, b.dst, b.src, w.acc + b.length_m
  FROM walk w
  JOIN deg dc ON dc.node_id = w.cur AND dc.deg = 2
  JOIN bidir b ON b.src = w.cur AND b.dst <> w.prev
),
finals AS (
  SELECT w.anchor, w.acc
  FROM walk w JOIN deg d ON d.node_id = w.cur
  WHERE d.deg <> 2
)
SELECT anchor AS node_id, CAST(COUNT(*) AS BIGINT) AS degree,
       SUM(acc) AS sum_len
FROM finals GROUP BY anchor
"""


def _q_subdivision(s, sf):
    return netprep.degree_summary(netprep.prepare(netprep.segments_df(s)))


# ------------------------------------------------- flat-world viewshed

VSF_RES = 5.0
VSF_MAX_DIST = 100.0
VSF_SAMPLE_MOD = 25


def _oracle_viewshed_flat(d: Dialect) -> str:
    """DuckDB replay of the viewshed kernel on the flat-DTM integer-
    building world: the LoS prefix-trie (kernels/lostrie.py — proven
    ≡ viewshed_batch by tests/test_lostrie.py) is exported as a
    literal; a recursive walk carries the running max tangent down
    parent links; a cell is visible iff some trie node carrying it has
    tan > run.  All tangents are identical float expressions on both
    engines (integer heights, literal 1.7, sqrt of integer d²)."""
    from .operators.visibility import flat_height_sql
    from .kernels.lostrie import trie_rows
    r = int(round(VSF_MAX_DIST / VSF_RES))
    rows = trie_rows(r)
    body = ", ".join(
        f"({n}, {'NULL' if p is None else p}, {dx}, {dy})"
        for n, p, dx, dy in rows)
    h_cell = flat_height_sql("o.ci0 + t.dx", "o.cj0 + t.dy")
    h_center = flat_height_sql("ci0", "cj0")
    return f"""
WITH RECURSIVE
points AS ({world.points_sql(d)}),
obs AS (
  SELECT point_id,
         CAST(FLOOR(x / {VSF_RES}) AS BIGINT) AS ci0,
         CAST(FLOOR(y / {VSF_RES}) AS BIGINT) AS cj0
  FROM points WHERE point_id % {VSF_SAMPLE_MOD} = 0
),
trie AS (
  SELECT * FROM (VALUES {body}) AS t(nid, parent, dx, dy)
),
tang AS (
  SELECT o.point_id, t.nid, t.parent, t.dx, t.dy,
         ({h_cell} - 1.7)
         / SQRT(CAST(t.dx * t.dx + t.dy * t.dy AS DOUBLE)) AS tan
  FROM obs o CROSS JOIN trie t
),
walk(point_id, nid, run) AS (
  SELECT point_id, nid, CAST(-9999.0 AS DOUBLE)
  FROM tang WHERE parent IS NULL
  UNION ALL
  SELECT c.point_id, c.nid, GREATEST(w.run, p.tan)
  FROM walk w
  JOIN tang p ON p.point_id = w.point_id AND p.nid = w.nid
  JOIN tang c ON c.point_id = w.point_id AND c.parent = w.nid
),
vn AS (
  SELECT DISTINCT t.point_id, t.dx, t.dy
  FROM walk w
  JOIN tang t ON t.point_id = w.point_id AND t.nid = w.nid
  WHERE t.tan > w.run
),
mask AS (SELECT DISTINCT dx, dy FROM trie UNION SELECT 0 AS dx, 0 AS dy),
act AS (
  SELECT point_id, ci0, cj0, (1.7 > {h_center}) AS active FROM obs
)
SELECT a.point_id,
       a.ci0 + m.dx AS ci,
       a.cj0 + m.dy AS cj,
       CAST(CASE WHEN m.dx = 0 AND m.dy = 0 THEN 1
                 WHEN NOT a.active THEN 0
                 WHEN v.point_id IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS visible
FROM act a
CROSS JOIN mask m
LEFT JOIN vn v ON v.point_id = a.point_id AND v.dx = m.dx AND v.dy = m.dy
"""


def _q_viewshed_flat(s, sf):
    from .operators.visibility import viewshed_flat_raster
    return viewshed_flat_raster(world.points_df(s, sf),
                                max_distance=VSF_MAX_DIST, res=VSF_RES,
                                sample_mod=VSF_SAMPLE_MOD)


# ------------------------------------------------------------- wiring

def build_geo3_registry() -> dict[str, QSpec]:
    d = DUCK
    return {
        # J2 k=5 through the cell index (scale path) moved r5-late
        # into registry.py's q_knn_parks variant union (same oracle —
        # the two algorithms are hash-provably equal), freeing this
        # slot for q_quality_classifier
        # J6-prep: to_spatial_subdivision + to_spatial_smooth
        # (ndvi_calc.R:146-147)
        "q_network_subdivision": QSpec(_q_subdivision,
                                       _oracle_subdivision(d)),
        # J4/A5 over genuinely concave polygons plus J4/A5/P7 over
        # polygons with interior rings (lakes) and multipolygon parks
        # (even-odd parity form; kernel-side semantics in
        # kernels/concave.{make_valid_polygon,points_in_rings,
        # intersection_area_holes}, tested in tests/test_concave.py) —
        # consolidated into one `kind`-tagged entry (r5)
        "q_greenspace_shapes": QSpec(_q_greenspace_shapes,
                                     greenspace_shapes_sql(d)),
        # P2/P4/P6/P11/P12 promoted from pytest-only to hash-exact:
        # one WKB decode pass emits centroid, area (holes subtract),
        # bbox, member/hole type flags, and the speed×time service
        # radius (operators/geomprops.py)
        "q_geom_props": QSpec(_q_geom_props, _oracle_geom_props(d)),
        # V10 promoted from pytest-only to hash-exact: AOI crop (J5
        # tile pruning) + terra::aggregate block-mean, NA→0 (P15)
        # with per-block NA counts (U5 flavor)
        "q_aoi_blockmean": QSpec(_q_aoi_blockmean,
                                 _oracle_aoi_blockmean(d)),
        # V4/V8 hash-exact on the flat-DTM world (sin-terrain variant
        # stays rows-only by design)
        "q_viewshed_flat": QSpec(_q_viewshed_flat,
                                 _oracle_viewshed_flat(d)),
    }
