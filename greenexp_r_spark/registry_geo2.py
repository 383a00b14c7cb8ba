"""Registry section 3: IDW interpolation and street green cover."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import constants as C
from . import world
from .dialect import DUCK, Dialect
from .functions import text as T
from .operators import idw, network, overlay, streets
from .registry import QSpec
from .sources import pages as P

ISO_SAMPLE_MOD = 25


def _oracle_idw(d: Dialect, k: int = 5) -> str:
    return f"""
{world.world_ctes(d, 'points', 'parks')},
cand AS (
  SELECT point_id, park_id, radius AS val,
         {d.dist2('x', 'y', 'cx', 'cy')} AS d2
  FROM points CROSS JOIN parks
),
top AS (
  SELECT * FROM (
    SELECT point_id, park_id, val, d2,
           ROW_NUMBER() OVER (PARTITION BY point_id
                              ORDER BY d2 ASC, park_id ASC) AS rank
    FROM cand
  ) _r WHERE rank <= {k}
),
arr AS (
  SELECT point_id,
         list(struct_pack(d2 := d2, park_id := park_id, val := val)
              ORDER BY d2 ASC, park_id ASC) AS nn
  FROM top GROUP BY point_id
)
SELECT point_id,
       CASE WHEN nn[1].d2 = 0 THEN nn[1].val
            ELSE list_reduce(list_prepend(
                     CAST(0.0 AS DOUBLE),
                     list_transform(nn, s -> s.val / s.d2)),
                     (a, b) -> a + b)
                 / list_reduce(list_prepend(
                     CAST(0.0 AS DOUBLE),
                     list_transform(nn, s -> 1.0 / s.d2)),
                     (a, b) -> a + b)
       END AS idw_value
FROM arr
"""


def _oracle_streets(d: Dialect) -> str:
    n = C.ROAD_N
    cnt_cols = ",\n  ".join(
        f"SUM(CASE WHEN code = {c} THEN 1 ELSE 0 END) AS cnt_{c}"
        for c in C.LC_CODES)
    frac_cols = ",\n       ".join(
        f"CAST(cnt_{c} AS DOUBLE) / CAST(n_samples AS DOUBLE) AS {C.LC_LABELS[c]}"
        for c in C.LC_CODES)
    green = " + ".join(f"cnt_{c}" for c in C.GREEN_CODES)
    ends = f"""
    SELECT edge_id,
           'street_' || CAST(edge_id % 50 AS STRING) AS name,
           (src % {n}) * {C.ROAD_SPACING} AS x1,
           {d.floori(f'src / {n}')} * {C.ROAD_SPACING} AS y1,
           (dst % {n}) * {C.ROAD_SPACING} AS x2,
           {d.floori(f'dst / {n}')} * {C.ROAD_SPACING} AS y2
    FROM road_edges
    """
    sampled = d.explode_range(ends, "k", "0",
                              str(streets.SAMPLES_PER_EDGE - 1))
    px = f"(x1 + (x2 - x1) / 100 * (k * {streets.SPACING}))"
    py = f"(y1 + (y2 - y1) / 100 * (k * {streets.SPACING}))"
    code = world.landcover_expr(d.floori(f"{px} / {C.LC_RES}"),
                                d.floori(f"{py} / {C.LC_RES}"))
    return f"""
{world.world_ctes(d, 'road_edges')},
samples AS (
  SELECT name, {code} AS code FROM ({sampled}) _s
),
agg AS (
  SELECT name, COUNT(*) AS n_samples,
  {cnt_cols}
  FROM samples GROUP BY name
)
SELECT name, n_samples,
       {frac_cols},
       CAST({green} AS DOUBLE) / CAST(n_samples AS DOUBLE) * 100.0
           AS greencover
FROM agg
"""


IDW_GRID = {"xmin": 6000, "ymin": 6000, "size": 2000, "res": 10}


def _oracle_idw_grid(d: Dialect, k: int = 5) -> str:
    g = IDW_GRID
    nx = g["size"] // g["res"]
    ci0, cj0 = g["xmin"] // g["res"], g["ymin"] // g["res"]
    return f"""
{world.world_ctes(d, 'parks')},
cells AS (
  SELECT (i % {nx}) + {ci0} AS ci,
         CAST(FLOOR(i / {nx}) AS BIGINT) + {cj0} AS cj
  FROM (SELECT unnest(generate_series(0, {nx * nx - 1})) AS i) _i
),
pts AS (
  SELECT ci, cj,
         (ci + 0.5) * {g['res']} * 2 AS x,
         (cj + 0.5) * {g['res']} * 2 AS y
  FROM cells
),
cand AS (
  SELECT p.ci, p.cj, k.park_id, k.radius AS val,
         {d.dist2('p.x', 'p.y', 'k.cx * 2', 'k.cy * 2')} AS d2
  FROM pts p CROSS JOIN parks k
),
top AS (
  SELECT * FROM (
    SELECT ci, cj, park_id, val, d2,
           ROW_NUMBER() OVER (PARTITION BY ci, cj
                              ORDER BY d2 ASC, park_id ASC) AS rank
    FROM cand
  ) _r WHERE rank <= {k}
),
arr AS (
  SELECT ci, cj,
         list(struct_pack(d2 := d2, park_id := park_id, val := val)
              ORDER BY d2 ASC, park_id ASC) AS nn
  FROM top GROUP BY ci, cj
)
SELECT ci, cj,
       CASE WHEN nn[1].d2 = 0 THEN nn[1].val
            ELSE list_reduce(list_prepend(
                     CAST(0.0 AS DOUBLE) ,
                     list_transform(nn, s -> s.val / s.d2)),
                     (a, b) -> a + b)
                 / list_reduce(list_prepend(
                     CAST(0.0 AS DOUBLE),
                     list_transform(nn, s -> 1.0 / s.d2)),
                     (a, b) -> a + b)
       END AS idw_value
FROM arr
"""


def _q_idw_union(s, sf):
    """A13 both paths in one gate entry (point interpolation +
    S8 raster-grid sink), tagged by `kind` — consolidated so the
    registry stays inside the driver's 50-entry window without losing
    hash-exact evidence for either path."""
    z = F.lit(0).cast("long")
    pt = idw.idw_at_points(world.points_df(s, sf), world.parks_df(s)) \
        .select(F.lit("point").alias("kind"),
                F.col("point_id").cast("long").alias("a"), z.alias("b"),
                "idw_value")
    g = IDW_GRID
    gr = idw.idw_to_grid(s, world.parks_df(s), g["xmin"], g["ymin"],
                         g["size"], g["res"]) \
        .select(F.lit("grid").alias("kind"),
                F.col("ci").cast("long").alias("a"),
                F.col("cj").cast("long").alias("b"), "idw_value")
    return pt.unionByName(gr)


def _oracle_idw_union(d: Dialect) -> str:
    return f"""
SELECT 'point' AS kind, CAST(point_id AS BIGINT) AS a,
       CAST(0 AS BIGINT) AS b, idw_value
FROM ({_oracle_idw(d)}) _pt
UNION ALL
SELECT 'grid' AS kind, CAST(ci AS BIGINT) AS a, CAST(cj AS BIGINT) AS b,
       idw_value
FROM ({_oracle_idw_grid(d)}) _gr
"""


def _oracle_isochrone_summary(d: Dialect) -> str:
    """Merged q_isochrone oracle (node count + total network distance
    + exact SQL convex-hull area): a node is a hull/boundary point iff
    it is not strictly inside any triangle of peers (O(n⁴) per
    isochrone — n ≤ ~25); boundary points are ordered by angle around
    their centroid (the vertex centroid of a positive-area hull is
    strictly interior, so angular ties cannot occur; degenerate
    collinear hulls shoelace to exactly 0) and the shoelace sum is
    exact because all coordinates are integer lattice meters (cross
    terms are exact-integer-valued doubles).  total_dist sums
    multiples of the 100 m hop — exact under any order."""
    last = C.ROAD_N - 1
    si = f"LEAST(GREATEST({d.floori('(x + 50.0) / 100.0')}, 0), {last})"
    sj = f"LEAST(GREATEST({d.floori('(y + 50.0) / 100.0')}, 0), {last})"
    cross = lambda ax, ay, bx, by, px, py: (
        f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))")
    d1 = cross("a.px", "a.py", "b.px", "b.py", "p.px", "p.py")
    d2 = cross("b.px", "b.py", "c.px", "c.py", "p.px", "p.py")
    d3 = cross("c.px", "c.py", "a.px", "a.py", "p.px", "p.py")
    return f"""
WITH RECURSIVE
points AS ({world.points_sql(d)}),
road_edges AS ({world.road_edges_sql(d)}),
edges2 AS (
  SELECT src, dst, length_m FROM road_edges
  UNION ALL
  SELECT dst AS src, src AS dst, length_m FROM road_edges
),
seeds AS (
  SELECT point_id, ({sj}) * {C.ROAD_N} + ({si}) AS node_id
  FROM points WHERE point_id % {ISO_SAMPLE_MOD} = 0
),
reach(point_id, node_id, net_dist) AS (
  SELECT point_id, node_id, CAST(0.0 AS DOUBLE) FROM seeds
  UNION
  SELECT r.point_id, e.dst, r.net_dist + e.length_m
  FROM reach r JOIN edges2 e ON e.src = r.node_id
  WHERE r.net_dist + e.length_m <= {float(C.BUFFER_M)}
),
nd AS (
  SELECT point_id, node_id, MIN(net_dist) AS net_dist
  FROM reach GROUP BY point_id, node_id
),
pts AS (
  SELECT point_id,
         CAST(node_id % {C.ROAD_N} AS DOUBLE) * {C.ROAD_SPACING} AS px,
         CAST({d.floori(f'node_id / {C.ROAD_N}')} AS DOUBLE)
             * {C.ROAD_SPACING} AS py
  FROM nd
),
hull AS (
  SELECT p.point_id, p.px, p.py FROM pts p
  WHERE NOT EXISTS (
    SELECT 1 FROM pts a, pts b, pts c
    WHERE a.point_id = p.point_id AND b.point_id = p.point_id
      AND c.point_id = p.point_id
      AND (({d1} > 0 AND {d2} > 0 AND {d3} > 0)
        OR ({d1} < 0 AND {d2} < 0 AND {d3} < 0))
  )
),
ctr AS (SELECT point_id, AVG(px) AS cx, AVG(py) AS cy
        FROM hull GROUP BY point_id),
ordered AS (
  SELECT h.point_id, h.px, h.py,
         ROW_NUMBER() OVER (PARTITION BY h.point_id
             ORDER BY atan2(h.py - c.cy, h.px - c.cx), h.px, h.py) AS rn,
         COUNT(*) OVER (PARTITION BY h.point_id) AS m
  FROM hull h JOIN ctr c ON h.point_id = c.point_id
),
sh AS (
  SELECT o.point_id, o.px * n.py - n.px * o.py AS cr
  FROM ordered o JOIN ordered n
    ON n.point_id = o.point_id AND n.rn = (o.rn % o.m) + 1
),
area AS (SELECT point_id, ABS(SUM(cr)) / 2.0 AS hull_area_m2
         FROM sh GROUP BY point_id),
cnt AS (SELECT point_id, COUNT(*) AS n_nodes, SUM(net_dist) AS total_dist
        FROM nd GROUP BY point_id)
SELECT c.point_id, c.n_nodes, c.total_dist,
       COALESCE(a.hull_area_m2, 0.0) AS hull_area_m2
FROM cnt c LEFT JOIN area a ON c.point_id = a.point_id
"""


def _q_isochrone(s, sf):
    return network.isochrone_summary(
        world.points_df(s, sf).where(
            F.col("point_id") % ISO_SAMPLE_MOD == 0),
        world.road_edges_df(s))


N_SCENES = 24

# q_collection_reduce AOI: 4 interior tiles × 6 scenes (S4)
COLLECTION_SCENES = 6
COLLECTION_TILES = [33, 34, 43, 44]


def _oracle_collection(d: Dialect) -> str:
    """Replays the S4 temporal reduce closed-form: per (tile, cell,
    scene) the base NDVI hash field + per-scene radiometric offset,
    with base-NA and per-(scene,cell) cloud cells masked
    (sources/tiles.scene_tile_values); integer checksums per tile
    match operators/collection.collection_reduce_summary."""
    from .sources import tiles as TL
    nt = TL.n_tiles(C.NDVI_RES) + 2
    tc = TL.TILE_CELLS
    pm = lambda e: f"((({e}) % {C.P31}) + {C.P31}) % {C.P31}"
    tiles_rel = " , ".join(f"({t})" for t in COLLECTION_TILES)
    inner = f"SELECT tid FROM (VALUES {tiles_rel}) _t(tid)"
    cells = d.explode_range(inner, "i", "0", str(tc * tc - 1))
    scn = d.explode_range(f"SELECT * FROM ({cells}) _c", "s", "0",
                          str(COLLECTION_SCENES - 1))
    ci = f"((tid % {nt}) - 1) * {tc} + (i % {tc})"
    cj = f"(({d.floori(f'tid / {nt}')}) - 1) * {tc} + ({d.floori(f'i / {tc}')})"
    h = pm(f"({ci}) * {C.NDVI_H_A} + ({cj}) * {C.NDVI_H_B}")
    hc = pm(f"({ci}) * {C.NDVI_H_A} + ({cj}) * {C.NDVI_H_B}"
            f" + s * {TL.SCENE_CLOUD_A}")
    val = (f"(({h}) % {C.NDVI_MOD} - 200)"
           f" + ((s * {TL.SCENE_OFF_MUL}) % 21 - 10)")
    valid = (f"(({h}) % {C.NDVI_NA_MOD} <> 0"
             f" AND ({hc}) % {TL.SCENE_CLOUD_MOD} <> 0)")
    return f"""
WITH percell AS (
  SELECT tid, i,
         CAST(SUM(CASE WHEN {valid} THEN {val} ELSE 0 END) AS BIGINT)
             AS s_c,
         CAST(SUM(CASE WHEN {valid} THEN 1 ELSE 0 END) AS BIGINT) AS c_c
  FROM ({scn}) _s GROUP BY tid, i
)
SELECT CAST(tid AS BIGINT) AS tile_id,
       CAST(SUM(CASE WHEN c_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid,
       CAST(SUM(CASE WHEN c_c = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_all_cloudy,
       CAST(SUM(c_c) AS BIGINT) AS n_obs_total,
       CAST(SUM(s_c) AS BIGINT) AS sum_vals,
       CAST(SUM(s_c * c_c) AS BIGINT) AS cross_sum
FROM percell GROUP BY tid
"""


def _q_collection_reduce(s, sf):
    from .operators.collection import collection_reduce_summary
    from .sources.tiles import scene_tiles_df
    return collection_reduce_summary(
        scene_tiles_df(s, COLLECTION_SCENES, tile_ids=COLLECTION_TILES))


def _q_scene_selection(s, sf):
    """S2/A11/W3 analog: synthetic imagery catalog → least-cloudy
    scene per month (the STAC argmin of ndvi_calc.R:299-302,
    generalized to a per-group top-1 window)."""
    from pyspark.sql import Window
    scenes = s.range(N_SCENES).select(
        F.col("id").alias("scene_id"),
        (F.col("id") % 12).alias("month"),
        ((F.col("id") * 2654435761 + 7) % C.P31 % 100).alias("cloud_cover"))
    w = Window.partitionBy("month").orderBy(
        F.col("cloud_cover").asc(), F.col("scene_id").asc())
    return (scenes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("month", "scene_id", "cloud_cover"))


def _oracle_scene(d: Dialect) -> str:
    return f"""
WITH scenes AS (
  SELECT i AS scene_id, i % 12 AS month,
         ((i * 2654435761 + 7) % {C.P31}) % 100 AS cloud_cover
  FROM (SELECT unnest(generate_series(0, {N_SCENES - 1})) AS i) _i
)
SELECT month, scene_id, cloud_cover FROM (
  SELECT month, scene_id, cloud_cover,
         ROW_NUMBER() OVER (PARTITION BY month
             ORDER BY cloud_cover ASC, scene_id ASC) AS rn
  FROM scenes
) _r WHERE rn = 1
"""


def _q_ndvi_bands(s, sf):
    """S3/two-band parity: zonal NDVI computed from red+NIR tile
    bands (ndvi_calc.R:315-318) through the materialized tile join."""
    from .operators.zonal_tiles import ndvi_bands_zonal_tiles
    from .sources.tiles import s2_tiles_df
    return ndvi_bands_zonal_tiles(world.points_df(s, sf), s2_tiles_df(s))


def _oracle_ndvi_bands(d: Dialect) -> str:
    from .registry import _buffer_cells_sql
    red = world.band_expr("ci", "cj", C.RED_H_A, C.RED_H_B, C.RED_MOD)
    nir = world.band_expr("ci", "cj", C.NIR_H_A, C.NIR_H_B, C.NIR_MOD)
    return f"""
{world.world_ctes(d, 'points')},
cells AS ({_buffer_cells_sql(d, C.NDVI_RES, C.BUFFER_M)}),
v AS (
  SELECT point_id,
         CAST(FLOOR((nir - red) * {float(C.BAND_Q)} / (nir + red))
              AS BIGINT) AS v
  FROM (SELECT point_id, {red} AS red, {nir} AS nir FROM cells) _b
)
SELECT point_id,
       CAST(SUM(v) AS DOUBLE) / ({float(C.BAND_Q)} * COUNT(*))
           AS mean_ndvi_bands,
       COUNT(*) AS n_cells
FROM v GROUP BY point_id
"""


def _q_domain_stats(s, sf):
    """Per-domain stats + the UT1-style blocklist flag (r5-late) +
    link-graph PageRank centrality (r5 session 4): the blocklist is a
    genuine dim TABLE broadcast-left-joined on the Spark side; the
    PageRank columns come from the real href-regex link extraction
    over augmented markup and an integer-exact power iteration
    (operators/linkgraph.py — the CC host-centrality quality prior).

    r5 session 5 folds the URL-canonicalization operator
    (operators/urlnorm.py) into the same aggregate at zero slot cost:
    each url is deterministically messed up (case/port/fragment/
    tracking params by doc_id residue — the pii augmented-corpus
    precedent, since the synthetic urls are already clean) and the
    per-domain MIN canonical string + distinct-canonical count ride
    the gate hash, so any drift in the shared canonical expression
    breaks the entry."""
    from .operators import linkgraph, textqa, urlnorm
    from .dialect import SPARK as _SPK
    pts = world.points_df(s, sf)
    # projected ONCE per row via extra_cols: the canonical expression
    # is interpreted (HOF filter) and textually large — inlining it
    # into both aggregates would re-evaluate it twice per row
    canon = F.expr(urlnorm.canonical_url_sql(
        _SPK, urlnorm.augment_url_sql(_SPK, "url", "point_id")))
    base = textqa.domain_stats(
        pts, blocklist=textqa.domain_blocklist(pts),
        extra_cols=(canon.alias("canon"),),
        extra_aggs=(F.countDistinct("canon").cast("long")
                    .alias("n_canon"),
                    F.min("canon").alias("first_canon")))
    # checkpoint the edge set: pagerank fetches it and collects the
    # nodes graph_nodes derives from it, which would otherwise run the
    # href extraction scan twice
    edges = linkgraph.page_links(pts).localCheckpoint(eager=True)
    pr = linkgraph.pagerank(linkgraph.graph_nodes(pts, edges), edges)
    return (base.join(pr, base["domain"] == pr["host"], "left")
            .select(base["domain"], "n_pages", "total_chars",
                    "mean_quality", "blocked",
                    "n_canon", "first_canon",
                    F.coalesce(pr["outdeg"], F.lit(0))
                    .cast("long").alias("outdeg"),
                    F.col("pagerank_micro")))


def _oracle_domain_stats(d: Dialect) -> str:
    from .operators import linkgraph, urlnorm
    from .registry_pipeline import _oracle_quality
    canon = urlnorm.canonical_url_sql(
        d, urlnorm.augment_url_sql(d, "url", "doc_id"))
    return f"""
WITH points AS ({world.points_sql(d)}),
qual AS ({_oracle_quality(d)}),
{linkgraph.pagerank_ctes(d)},
j AS (
  SELECT p.url, p.point_id AS doc_id,
         CAST(length(p.text) AS BIGINT) AS n_chars,
         CAST(round(q.quality * 1000000) AS BIGINT) AS q_micro
  FROM points p JOIN qual q ON p.point_id = q.doc_id
),
base AS (
  SELECT domain, COUNT(*) AS n_pages,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(q_micro) AS DOUBLE) / (1000000.0 * COUNT(*))
             AS mean_quality,
         ({T.word_hash_sql('domain')}) % 17 = 3 AS blocked,
         CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canon,
         MIN(canon) AS first_canon
  FROM (SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS domain,
               n_chars, q_micro, {canon} AS canon
        FROM j) _d
  GROUP BY domain
)
SELECT b.domain, b.n_pages, b.total_chars, b.mean_quality, b.blocked,
       b.n_canon, b.first_canon,
       CAST(COALESCE(o.outdeg, 0) AS BIGINT) AS outdeg,
       CAST(p.pr AS BIGINT) AS pagerank_micro
FROM base b
LEFT JOIN lg_outd o ON o.src = b.domain
LEFT JOIN lg_pr{linkgraph.PR_ROUNDS} p ON p.host = b.domain
"""


def _oracle_poly_pct(d: Dialect) -> str:
    """Exact DuckDB replay of overlay.greenspace_polygon_pct
    (upgrades the last oracle-able rows-only query — VERDICT r03
    'Next round #2').

    The engine clips each candidate park k-gon by the 64-gon buffer
    disc with Sutherland–Hodgman in POINT-LOCAL coordinates; the
    oracle enumerates the convex∩convex intersection's vertices
    instead (park verts inside buffer ∪ buffer verts inside park ∪
    edge×edge crossings), orders them by angle around their centroid
    and takes the shoelace area — the same mathematical value through
    different float paths, differing by ≲1e-8 m² in the local frame.
    Both sides then quantize PER PAIR with FLOOR(a·1000 + 0.5) —
    five orders of margin — and sum exact BIGINTs per point, so the
    final pct is bit-identical (the q_isochrone_hull angle-ordering +
    q_viewshed_flat quantized-contract precedents).  The oracle's own
    shoelace sum is made order-independent by quantizing cross terms
    at 2^-21 (error ≤ 2e-5 m², still far under the pair quantizer).
    Runs on DuckDB only (free use of pi()/trig; the engine side is
    the real mapInPandas kernel, not shared SQL)."""
    from .kernels import geom as G
    R = float(C.BUFFER_M)
    buf_area = float(abs(G.polygon_area(
        G.regular_polygon(0.0, 0.0, R, 64))))
    cross = ("(({x2} - {x1}) * ({py} - {y1})"
             " - ({y2} - {y1}) * ({px} - {x1}))")
    in_buf = cross.format(x1="e.x1", y1="e.y1", x2="e.x2", y2="e.y2",
                          px="v.vx", py="v.vy")
    in_park = cross.format(x1="e.x1", y1="e.y1", x2="e.x2", y2="e.y2",
                           px="b.bx", py="b.by")
    return f"""
WITH points AS ({world.points_sql(d)}),
parks AS ({world.parks_sql(d)}),
pk AS (SELECT park_id, cx, cy, radius,
              5 + CAST(park_id % 4 AS INT) AS k
       FROM parks),
cand AS (
  SELECT p.point_id, p.x, p.y, g.park_id, g.cx, g.cy, g.radius, g.k
  FROM points p JOIN pk g
    ON (g.cx - p.x) * (g.cx - p.x) + (g.cy - p.y) * (g.cy - p.y)
       <= (g.radius + {R!r}) * (g.radius + {R!r})
),
i64 AS (SELECT unnest(generate_series(0, 63)) AS i),
-- buffer disc vertices/edges at the ORIGIN (local frame — identical
-- for every pair), vertex 0 due east, CCW: regular_polygon's formula
bo AS (
  SELECT i, {R!r} * COS(2.0 * PI() * i / 64) AS bx,
         {R!r} * SIN(2.0 * PI() * i / 64) AS by
  FROM i64
),
be AS (
  SELECT a.i, a.bx AS x1, a.by AS y1, b.bx AS x2, b.by AS y2
  FROM bo a JOIN bo b ON b.i = (a.i + 1) % 64
),
-- park k-gon vertices in the pair's local frame
pv AS (
  SELECT c.point_id, c.park_id, i.i AS vi,
         (c.cx + c.radius * COS(2.0 * PI() * i.i / c.k)) - c.x AS vx,
         (c.cy + c.radius * SIN(2.0 * PI() * i.i / c.k)) - c.y AS vy
  FROM cand c JOIN i64 i ON i.i < c.k
),
pe AS (
  SELECT a.point_id, a.park_id, a.vx AS x1, a.vy AS y1,
         b.vx AS x2, b.vy AS y2
  FROM pv a
  JOIN pv b ON b.point_id = a.point_id AND b.park_id = a.park_id
  JOIN pk g ON g.park_id = a.park_id
  WHERE b.vi = (a.vi + 1) % g.k
),
-- intersection vertices: park verts in buffer (convex CCW half-plane
-- test, boundary counts in), buffer verts in park, edge crossings
vin AS (
  SELECT v.point_id, v.park_id, v.vx AS x, v.vy AS y
  FROM pv v
  WHERE NOT EXISTS (SELECT 1 FROM be e WHERE {in_buf} < 0)
),
bin AS (
  SELECT c.point_id, c.park_id, b.bx AS x, b.by AS y
  FROM cand c JOIN bo b ON TRUE
  WHERE NOT EXISTS (
    SELECT 1 FROM pe e
    WHERE e.point_id = c.point_id AND e.park_id = c.park_id
      AND {in_park} < 0)
),
xg AS (
  SELECT p.point_id, p.park_id,
         p.x2 - p.x1 AS rx, p.y2 - p.y1 AS ry,
         e.x2 - e.x1 AS sx, e.y2 - e.y1 AS sy,
         e.x1 - p.x1 AS qx, e.y1 - p.y1 AS qy,
         p.x1, p.y1
  FROM pe p JOIN be e ON TRUE
),
xings AS (
  SELECT point_id, park_id,
         x1 + (qx * sy - qy * sx) / (rx * sy - ry * sx) * rx AS x,
         y1 + (qx * sy - qy * sx) / (rx * sy - ry * sx) * ry AS y
  FROM xg
  WHERE (rx * sy - ry * sx) <> 0
    AND (qx * sy - qy * sx) / (rx * sy - ry * sx) > 0
    AND (qx * sy - qy * sx) / (rx * sy - ry * sx) < 1
    AND (qx * ry - qy * rx) / (rx * sy - ry * sx) > 0
    AND (qx * ry - qy * rx) / (rx * sy - ry * sx) < 1
),
verts AS (
  SELECT DISTINCT point_id, park_id, x, y FROM (
    SELECT * FROM vin UNION ALL SELECT * FROM bin
    UNION ALL SELECT * FROM xings) _u
),
ctr AS (
  SELECT point_id, park_id, AVG(x) AS mx, AVG(y) AS my
  FROM verts GROUP BY point_id, park_id
),
ordered AS (
  SELECT v.point_id, v.park_id, v.x, v.y,
         ROW_NUMBER() OVER (PARTITION BY v.point_id, v.park_id
             ORDER BY atan2(v.y - c.my, v.x - c.mx), v.x, v.y) AS rn,
         COUNT(*) OVER (PARTITION BY v.point_id, v.park_id) AS m
  FROM verts v JOIN ctr c
    ON c.point_id = v.point_id AND c.park_id = v.park_id
),
sh AS (
  SELECT o.point_id, o.park_id,
         CAST(FLOOR((o.x * n.y - n.x * o.y) * 2097152.0 + 0.5)
              AS BIGINT) AS crq
  FROM ordered o JOIN ordered n
    ON n.point_id = o.point_id AND n.park_id = o.park_id
   AND n.rn = (o.rn % o.m) + 1
),
pair_area AS (
  SELECT point_id, park_id,
         ABS(CAST(SUM(crq) AS BIGINT)) / 2097152.0 / 2.0 AS a
  FROM sh GROUP BY point_id, park_id
),
pair_q AS (
  SELECT point_id,
         CAST(FLOOR(a * 1000.0 + 0.5) AS BIGINT) AS q
  FROM pair_area
),
agg AS (
  SELECT point_id, CAST(SUM(q) AS BIGINT) AS green_q
  FROM pair_q GROUP BY point_id
)
SELECT p.point_id,
       LEAST(CAST(COALESCE(a.green_q, 0) AS DOUBLE) / 1000.0
             / {buf_area!r} * 100.0, 100.0) AS greenspace_poly_pct
FROM points p LEFT JOIN agg a ON a.point_id = p.point_id
"""


# ------------------------------------------------------- CRS / UTM

UTM_SAMPLE_MOD = 5
_UTM_CRS = "UTM/WGS84(zones 31-32)"
# synthetic WGS84 fixture: integer micro-degrees from doc_id (exact on
# both engines), lon ∈ [0.5°, 11.5°) → spans UTM zones 31 AND 32, so
# per-row zone selection and the per-zone central meridian are
# exercised inside the hash (zone boundary 6.0° is exact: 186/6 is a
# representable double, FLOOR agrees on both engines)
_LON_SQL = "(500000 + (doc_id * 2654435761) % 11000000) / 1000000.0"
_LAT_SQL = "(45000000 + (doc_id * 2246822519) % 10000000) / 1000000.0"


def _q_crs_utm(s, sf):
    """P1 on a second projected CRS (VERDICT r03 'Next round #6'):
    WGS84 → UTM (zones 31-32, per-row zone dispatch in the hash)
    through the vectorized Snyder series
    (functions/crs.utm_forward), outputs quantized to integer
    millimeters — the engine's numpy trig and the oracle's DuckDB trig
    replay the same formula with ~1e-8 m divergence against a 0.5 mm
    quantizer half-step (the q_greenspace_poly_pct contract).  The UTM
    point table is CRS-DECLARED (declare_crs) and consumed through
    require_same_crs, exercising the per-dataset declaration path on a
    gate query (reference: ndvi_calc.R:50-62 `projected_crs`)."""
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql.types import (LongType, StructField, StructType)
    from .functions import crs as CR

    from .plans.widen import widen
    docs = widen(P.documents_df(s, sf))
    base = docs.where(F.col("doc_id") % UTM_SAMPLE_MOD == 0).select(
        F.col("doc_id").alias("point_id"),
        F.expr(_LON_SQL).alias("lon"),
        F.expr(_LAT_SQL).alias("lat"))

    schema = StructType([
        StructField("point_id", LongType()),
        StructField("zone", LongType()),
        StructField("e_mm", LongType()),
        StructField("n_mm", LongType()),
    ])

    def fwd(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            if not len(pdf):
                continue
            z, e, n = CR.utm_forward(pdf["lon"].to_numpy(),
                                     pdf["lat"].to_numpy())
            yield pd.DataFrame({
                "point_id": pdf["point_id"].to_numpy(),
                "zone": z,
                "e_mm": np.floor(e * 1000.0 + 0.5).astype(np.int64),
                "n_mm": np.floor(n * 1000.0 + 0.5).astype(np.int64)})

    utm = CR.declare_crs(base.mapInPandas(fwd, schema), _UTM_CRS,
                         cols=("e_mm", "n_mm"))
    # the declared-CRS consumption guard (raises on a mixed join)
    CR.require_same_crs(utm, col="e_mm", expect=_UTM_CRS)
    return utm


def _oracle_crs_utm(d: Dialect) -> str:
    """DuckDB replay of the Snyder forward series with Python-computed
    coefficient literals; per-row zone selection (lon spans zones
    31-32) and per-zone central meridian; quantized-mm contract (see
    _q_crs_utm)."""
    from .functions import crs as CR
    e2, ep2, a, k0 = CR._E2, CR._EP2, CR.WGS84_A, CR.UTM_K0
    c0 = 1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256
    c2 = 3 * e2 / 8 + 3 * e2 ** 2 / 32 + 45 * e2 ** 3 / 1024
    c4 = 15 * e2 ** 2 / 256 + 45 * e2 ** 3 / 1024
    c6 = 35 * e2 ** 3 / 3072
    return f"""
WITH base AS (
  SELECT doc_id AS point_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat
  FROM documents WHERE doc_id % {UTM_SAMPLE_MOD} = 0
),
t1 AS (SELECT point_id,
              CAST(FLOOR((lon + 180.0) / 6.0) AS BIGINT) + 1 AS zone,
              RADIANS(lon) AS lam, RADIANS(lat) AS phi
       FROM base),
t2 AS (SELECT point_id, zone, lam, phi,
              RADIANS(CAST(zone AS DOUBLE) * 6.0 - 183.0) AS lam0,
              SIN(phi) AS sp, COS(phi) AS cp, TAN(phi) AS tp
       FROM t1),
t3 AS (SELECT point_id, zone, lam, phi, sp, cp, tp,
              {a!r} / SQRT(1 - {e2!r} * sp * sp) AS N,
              tp * tp AS T,
              {ep2!r} * cp * cp AS Cc,
              (lam - lam0) * cp AS A,
              {a!r} * ({c0!r} * phi - {c2!r} * SIN(2 * phi)
                       + {c4!r} * SIN(4 * phi)
                       - {c6!r} * SIN(6 * phi)) AS M
       FROM t2),
t4 AS (SELECT point_id, zone,
              {k0!r} * N * (A + (1 - T + Cc) * POWER(A, 3) / 6
                  + (5 - 18 * T + T * T + 72 * Cc - 58 * {ep2!r})
                    * POWER(A, 5) / 120) + 500000.0 AS x,
              {k0!r} * (M + N * tp * (A * A / 2
                  + (5 - T + 9 * Cc + 4 * Cc * Cc) * POWER(A, 4) / 24
                  + (61 - 58 * T + T * T + 600 * Cc - 330 * {ep2!r})
                    * POWER(A, 6) / 720)) AS y
       FROM t3)
SELECT point_id, zone,
       CAST(FLOOR(x * 1000.0 + 0.5) AS BIGINT) AS e_mm,
       CAST(FLOOR(y * 1000.0 + 0.5) AS BIGINT) AS n_mm
FROM t4
"""


def build_geo2_registry() -> dict[str, QSpec]:
    d = DUCK
    return {
        "q_scene_selection": QSpec(_q_scene_selection, _oracle_scene(d)),
        # S4 promoted from pytest-only to hash-exact: the GEE
        # ImageCollection.mean() reduce over a 4-tile AOI × 6 scenes,
        # verified through integer composite checksums (sum_vals is
        # recovered bit-exactly from the published per-cell mean)
        "q_collection_reduce": QSpec(_q_collection_reduce,
                                     _oracle_collection(d)),
        # P1 on a UTM-declared variant (second projected CRS +
        # declaration/dispatch plumbing), quantized-mm exact
        "q_crs_utm": QSpec(_q_crs_utm, _oracle_crs_utm(d)),
        "q_ndvi_bands": QSpec(_q_ndvi_bands, _oracle_ndvi_bands(d)),
        # per-domain corpus stats over the pages' url column (the
        # domain-level filtering grouping of CC-style pipelines)
        "q_domain_stats": QSpec(_q_domain_stats, _oracle_domain_stats(d)),
        # q_events_props consolidated into registry_pipeline's
        # q_events_rollup (r05)
        # A13 point + grid paths merged into one exact union entry
        # (was q_idw + q_idw_grid; both shapes still hash-verified)
        "q_idw": QSpec(_q_idw_union, _oracle_idw_union(d)),
        # fed from the WKB-shipped road layer (VERDICT r04 ask #4):
        # MULTILINESTRING decode → identical sampling plan → hashes
        # unchanged vs the node-table path (equality also pinned by
        # tests/test_round2_ops.py::test_street_cover_wkb_equals_nodes)
        "q_street_green_cover": QSpec(
            lambda s, sf: streets.street_green_cover_wkb(
                streets.roads_wkb(world.road_edges_df(s))),
            _oracle_streets(d)),
        # A12 node count + total distance + P5 hull area consolidated
        # into ONE entry over one isochrone computation (r5; frees a
        # slot for the pytest-only-operator promotions).  Exact: the
        # oracle derives the hull in SQL (boundary = not strictly
        # inside any peer triangle, shoelace over the angle-ordered
        # boundary); the engine-side hull kernel is additionally
        # brute-force-tested in tests/test_geom_kernels.py
        "q_isochrone": QSpec(_q_isochrone, _oracle_isochrone_summary(d)),
        # exact polygon-clip overlay (also grid-verified in
        # tests/test_overlay.py): the real mapInPandas clip kernel on
        # the Spark side, vertex-enumeration replay on DuckDB, exact
        # through the 0.001 m² per-pair quantized-area contract
        "q_greenspace_poly_pct": QSpec(
            lambda s, sf: overlay.greenspace_polygon_pct(
                world.points_df(s, sf), world.parks_df(s)),
            _oracle_poly_pct(d)),
    }
