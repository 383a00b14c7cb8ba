"""The deterministic synthetic geo-world as shared-SQL fragments.

Every table and per-row formula (``points_sql``, ``parks_sql``,
``xy_sql``, ...) has one text, rendered per Dialect: the DuckDB oracle
embeds it, and the engine-side builders (``points_df``, ``parks_df``,
...) run the same text through ``spark.sql`` or ``selectExpr``.  All
integer arithmetic → bit-identical across engines.

Reference analogs: Ams_Houses / Ams_Parks / network_file
(GreenExp_R R/data.R:1-77); virtual rasters replace the STAC/terra
acquisition path (ndvi_calc.R:277-318, land_cover.R:273-347).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import constants as C
from .dialect import SPARK, Dialect
from .sources import pages as P

# =========================================================================
# Shared-SQL fragments
# =========================================================================


def xy_sql(pid: str = "doc_id") -> tuple[str, str]:
    """(x, y) of the non-negative id ``pid``: one LCG step per axis,
    exact for every BIGINT id (Dialect.lcg reduces before it
    multiplies)."""
    def axis(mul: int, add: int) -> str:
        h = Dialect.lcg(pid, mul, add, C.P31)
        return f"CAST({h} % {C.WORLD_SIZE} AS DOUBLE)"
    return axis(C.X_MUL, C.X_ADD), axis(C.Y_MUL, C.Y_ADD)


def _points_cols() -> list[str]:
    """point_id, url, x, y of the documents row."""
    x, y = xy_sql()
    return ["doc_id AS point_id", f"{P.url_sql()} AS url",
            f"{x} AS x", f"{y} AS y"]


def points_sql(d: Dialect) -> str:
    """Geocoded address points from the driver's ``documents`` table.

    This is the input_hint pages table: urls geocode deterministically
    to (x, y); ``text`` rides along byte-identical (invariant P20).
    """
    return (f"SELECT {', '.join(_points_cols())}, text, lang"
            " FROM documents")


def parks_sql(d: Dialect) -> str:
    """Synthetic greenspace layer: 60 disc parks, 70% clustered in 3
    urban hotspots (join-skew fixture), some below the 400 m² WHO
    minimum (accessibility.R:211-214)."""
    hot_x = (f"CASE park_id % 3 WHEN 0 THEN {C.PARK_HOT_X[0]} "
             f"WHEN 1 THEN {C.PARK_HOT_X[1]} ELSE {C.PARK_HOT_X[2]} END")
    hot_y = (f"CASE park_id % 3 WHEN 0 THEN {C.PARK_HOT_Y[0]} "
             f"WHEN 1 THEN {C.PARK_HOT_Y[1]} ELSE {C.PARK_HOT_Y[2]} END")
    tag_key = "CASE " + " ".join(
        f"WHEN park_id % 10 = {i} THEN '{k}'" for i, (k, _) in enumerate(C.OSM_TAGS)
    ) + " END"
    tag_val = "CASE " + " ".join(
        f"WHEN park_id % 10 = {i} THEN '{v}'" for i, (_, v) in enumerate(C.OSM_TAGS)
    ) + " END"
    return f"""
    SELECT park_id,
           'park_' || CAST(park_id AS STRING) AS name,
           {tag_key} AS tag_key,
           {tag_val} AS tag_value,
           CAST(CASE WHEN park_id % {C.PARK_HOT_FRACTION_MOD} < 7
                THEN ({hot_x}) + ((park_id * {C.PARK_CX_MUL} + {C.PARK_CX_ADD})
                                  % {C.PARK_SPREAD}) - 1200
                ELSE ((park_id * {C.PARK_FAR_MUL} + {C.PARK_FAR_ADD})
                      % 19000) + 500 END AS DOUBLE) AS cx,
           CAST(CASE WHEN park_id % {C.PARK_HOT_FRACTION_MOD} < 7
                THEN ({hot_y}) + ((park_id * {C.PARK_CY_MUL} + {C.PARK_CY_ADD})
                                  % {C.PARK_SPREAD}) - 1200
                ELSE ((park_id * {C.PARK_FARY_MUL} + {C.PARK_FARY_ADD})
                      % 19000) + 500 END AS DOUBLE) AS cy,
           CAST(CASE WHEN park_id % {C.PARK_SMALL_MOD} = 0 THEN 8
                ELSE 40 + ((park_id * {C.PARK_R_MUL}) % {C.PARK_R_MOD})
                END AS DOUBLE) AS radius,
           pi() * CAST(CASE WHEN park_id % {C.PARK_SMALL_MOD} = 0 THEN 8
                ELSE 40 + ((park_id * {C.PARK_R_MUL}) % {C.PARK_R_MOD})
                END AS DOUBLE)
                * CAST(CASE WHEN park_id % {C.PARK_SMALL_MOD} = 0 THEN 8
                ELSE 40 + ((park_id * {C.PARK_R_MUL}) % {C.PARK_R_MOD})
                END AS DOUBLE) AS area_m2
    FROM {d.range_select(0, C.N_PARKS - 1, "park_id")}
    """


def trees_sql(d: Dialect) -> str:
    """Canopy tree points with canopy radius (canopy_coverage.R:283-291)."""
    return f"""
    SELECT tree_id,
           CAST(((tree_id * {C.TREE_X_MUL} + {C.TREE_X_ADD}) % {C.P31})
                % {C.WORLD_SIZE} AS DOUBLE) AS x,
           CAST(((tree_id * {C.TREE_Y_MUL} + {C.TREE_Y_ADD}) % {C.P31})
                % {C.WORLD_SIZE} AS DOUBLE) AS y,
           CAST({C.TREE_R_BASE_X10} + ((tree_id * 7 + 3) % {C.TREE_R_MOD})
                AS DOUBLE) / 10.0 AS canopy_radius_m
    FROM {d.range_select(0, C.N_TREES - 1, "tree_id")}
    """


def _pmod(e: str, m: int) -> str:
    """Positive modulus — identical text in both engines; safe for the
    negative cell indices that appear when buffers cross x=0 / y=0."""
    return f"((({e}) % {m} + {m}) % {m})"


def cell_hash_expr(ci: str, cj: str, a: int, b: int) -> str:
    return _pmod(f"({ci}) * {a} + ({cj}) * {b}", C.P31)


def ndvi_int_expr(ci: str, cj: str) -> str:
    """Integer NDVI*800+? — actually the raw integer v such that
    ndvi = v / 800.  Integer so cross-engine aggregation is EXACT
    (sums of doubles depend on addition order; sums of BIGINTs don't).
    ~1% of cells are NA → 0, matching ndvi_calc.R:336's NA→0 fold."""
    h = cell_hash_expr(ci, cj, C.NDVI_H_A, C.NDVI_H_B)
    return (f"CASE WHEN {h} % {C.NDVI_NA_MOD} = 0 THEN 0 "
            f"ELSE ({h} % {C.NDVI_MOD}) - 200 END")


def band_expr(ci: str, cj: str, a: int, b: int, mod: int) -> str:
    """Positive integer band reflectance of raster cell (ci, cj) —
    the closed form of sources/tiles.band_tile_values (red/NIR bands
    for the ndvi_calc.R:315-318 band-math workflow)."""
    return f"(1 + {cell_hash_expr(ci, cj, a, b)} % {mod})"


def landcover_expr(ci: str, cj: str) -> str:
    """ESA-WorldCover-style class code of cell (ci, cj) — dialect-free
    CASE chain (P18's code→label map is applied on top)."""
    h = cell_hash_expr(ci, cj, C.LC_H_A, C.LC_H_B)
    arms = " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(C.LC_CODES))
    return f"CASE ({h} % {len(C.LC_CODES)}) {arms} END"


def road_edges_sql(d: Dialect) -> str:
    """Undirected lattice road network, 201×201 nodes / 100 m spacing,
    ~6% of edges hash-deleted (detours + disconnected islands).
    node_id = j * 201 + i.  Stored one direction; expand at use."""
    n, last = C.ROAD_N, C.ROAD_N - 1
    del_pred = (f"((eid * {C.ROAD_DEL_MUL} + {C.ROAD_DEL_ADD}) % {C.P31})"
                f" % {C.ROAD_DEL_MOD} <> 0")
    # horizontal edge eid = j * last + i; vertical edge
    # eid = n * last + i * last + j (k = eid - n * last)
    k = f"(eid - {n * last})"
    return f"""
    SELECT eid AS edge_id, src, dst,
           CAST({C.ROAD_SPACING} AS DOUBLE) AS length_m
    FROM (
        SELECT eid,
               {d.idiv('eid', last)} * {n} + eid % {last} AS src,
               {d.idiv('eid', last)} * {n} + eid % {last} + 1 AS dst
        FROM {d.range_select(0, n * last - 1, "eid")}
        UNION ALL
        SELECT eid,
               {k} % {last} * {n} + {d.idiv(k, last)} AS src,
               ({k} % {last} + 1) * {n} + {d.idiv(k, last)} AS dst
        FROM {d.range_select(n * last, 2 * n * last - 1, "eid")}
    ) e
    WHERE {del_pred}
    """


def road_edges_weighted_sql(d: Dialect) -> str:
    """The same lattice with heterogeneous edge lengths 80..140 m —
    the reference's true Dijkstra surface (`weight = edge_length()`,
    accessibility.R:343-356, ndvi_calc.R:175-176), which the uniform
    lattice can't distinguish from BFS."""
    base = road_edges_sql(d)
    w = (f"CAST({C.WEDGE_BASE} + ((CAST(edge_id AS BIGINT) * {C.WEDGE_MUL}"
         f" + {C.WEDGE_ADD}) % {C.P31}) % {C.WEDGE_SPAN} AS DOUBLE)")
    return f"""
    SELECT edge_id, src, dst, {w} AS length_m
    FROM ({base}) _re
    """


def park_entrance_nodes_sql(d: Dialect) -> str:
    """Pseudo-entrance nodes (accessibility.R:223-247): network nodes
    inside the dissolved 20 m buffer of the (≥400 m²) greenspace —
    i.e. lattice nodes within (radius + 20) of a park center; the
    dissolve (st_union) is the DISTINCT over parks.  Small parks whose
    buffer contains no node contribute none, as in the reference."""
    r = f"(radius + {C.ENTRANCE_BUFFER_M})"
    last = C.ROAD_N - 1
    lo = lambda c: (f"LEAST(GREATEST({d.floori(f'({c} - {r} + 99) / 100')},"
                    f" 0), {last})")
    hi = lambda c: (f"LEAST(GREATEST({d.floori(f'({c} + {r}) / 100')},"
                    f" 0), {last})")
    src = (f"SELECT cx, cy, radius FROM parks"
           f" WHERE area_m2 > {C.MIN_GREENSPACE_M2}")
    e1 = d.explode_range(src, "ni", lo("cx"), hi("cx"))
    e2 = d.explode_range(e1, "nj", lo("cy"), hi("cy"))
    return f"""
    SELECT DISTINCT nj * {C.ROAD_N} + ni AS entrance_node
    FROM ({e2}) _en
    WHERE (ni * 100 - cx) * (ni * 100 - cx)
        + (nj * 100 - cy) * (nj * 100 - cy) <= {r} * {r}
    """


def park_entrances_sql(d: Dialect) -> str:
    """Park pseudo-entrance nodes: each ≥400 m² park snaps its centroid
    to the nearest lattice node (accessibility.R:223-247 analog)."""
    last = C.ROAD_N - 1
    snap_i = f"LEAST(GREATEST({d.floori(f'(cx + 50) / 100')}, 0), {last})"
    snap_j = f"LEAST(GREATEST({d.floori(f'(cy + 50) / 100')}, 0), {last})"
    return f"""
    SELECT park_id, ({snap_j}) * {C.ROAD_N} + ({snap_i}) AS entrance_node
    FROM parks
    WHERE area_m2 > {C.MIN_GREENSPACE_M2}
    """


def world_ctes(d: Dialect, *names: str) -> str:
    """Compose a WITH clause holding the requested world tables."""
    frags = {
        "points": points_sql, "parks": parks_sql, "trees": trees_sql,
        "road_edges": road_edges_sql, "park_entrances": park_entrances_sql,
        "road_edges_weighted": road_edges_weighted_sql,
        "park_entrance_nodes": park_entrance_nodes_sql,
    }
    parts = [f"{n} AS ({frags[n](d)})" for n in names]
    return "WITH " + ",\n".join(parts)


# =========================================================================
# Engine-side builders: the fragments above, run by Spark
# =========================================================================


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages/address-point table from the driver's documents parquet."""
    from .plans.widen import widen
    doc = widen(P.documents_df(spark, sf_dir))
    return doc.selectExpr(*_points_cols(), "text", "lang")


def synthetic_points(spark: SparkSession, n: int,
                     partitions: int | None = None) -> DataFrame:
    """Scale-testing points table: same geocoding formulas applied to
    spark.range ids — lets the bench grow the points side arbitrarily
    without external data (BASELINE.md scaling protocol)."""
    rng = spark.range(0, n, 1, partitions) if partitions \
        else spark.range(n)
    x, y = xy_sql("id")
    return rng.selectExpr("id AS point_id", f"{x} AS x", f"{y} AS y")


def parks_df(spark: SparkSession) -> DataFrame:
    return spark.sql(parks_sql(SPARK))


def trees_df(spark: SparkSession) -> DataFrame:
    return spark.sql(trees_sql(SPARK))


def road_edges_df(spark: SparkSession) -> DataFrame:
    return spark.sql(road_edges_sql(SPARK))


def park_entrances_df(spark: SparkSession) -> DataFrame:
    return spark.sql(
        world_ctes(SPARK, "parks") + "\n" + park_entrances_sql(SPARK))


def road_edges_weighted_df(spark: SparkSession) -> DataFrame:
    return spark.sql(road_edges_weighted_sql(SPARK))


def park_entrance_nodes_df(spark: SparkSession) -> DataFrame:
    return spark.sql(world_ctes(SPARK, "parks") + "\n"
                     + park_entrance_nodes_sql(SPARK))
