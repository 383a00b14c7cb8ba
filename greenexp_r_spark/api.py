"""Reference-named API façade: GreenExp_R's exported surface
(NAMESPACE:3-12) mapped 1:1 onto the engine's operators, with the
reference's default parameters, so a user of the R package can switch
by renaming their data frames to DataFrames.

Differences from the reference, by design (SURVEY.md §7 decisions):
  * results join back on the stable key `point_id` (the reference
    rebinds by row order, J9 — fragile under any parallelism);
  * random sampling is seeded per point (P10) — reproducible;
  * `sf_to_rast`'s C++ kernel was never registered in the reference
    (RcppExports.R:4-15); semantics here follow its formula;
  * every function is lazy (returns a DataFrame plan).

Buffer distance from speed/time (`ndvi_calc.R:76-88`) is available as
`functions.geo.buffer_distance_from_speed` and accepted wherever the
reference derives it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import constants as C
from .operators import (accessibility, availability, idw, network,
                        streets, visibility)


def calc_ndvi(address_location: DataFrame,
              buffer_distance: float = C.BUFFER_M,
              add_sd: bool = True) -> DataFrame:
    """`calc_ndvi(address, buffer_distance, add_sd)` → per-point mean
    (and sample sd) NDVI over the buffer (ndvi_calc.R:41-447)."""
    return availability.ndvi_zonal(address_location, buffer_distance,
                                   add_sd=add_sd)


def land_cover(address_location: DataFrame,
               buffer_distance: float = C.BUFFER_M) -> DataFrame:
    """`land_cover(address, buffer_distance)` → the 12-column class
    fractions (land_cover.R:368-399)."""
    return availability.landcover_fractions(address_location,
                                            buffer_distance)


def greenspace_pct(address_location: DataFrame, greenspace: DataFrame,
                   buffer_distance: float = C.BUFFER_M) -> DataFrame:
    """`park_coverage`/`greenspace_pct` → % of buffer covered by
    greenspace, clamped to 100 (park_coverage.R:240-358)."""
    return availability.greenspace_pct(address_location, greenspace,
                                       buffer_m=buffer_distance)


def canopy_pct(address_location: DataFrame, canopy: DataFrame,
               buffer_distance: float = C.BUFFER_M) -> DataFrame:
    """`canopy_pct(address, canopy_layer, buffer_distance)`
    (canopy_coverage.R:241-352)."""
    return availability.canopy_pct(address_location, canopy,
                                   buffer_m=buffer_distance)


def green_cover_streets(edges: DataFrame) -> DataFrame:
    """`green_cover_streets` → land-cover fractions + greencover
    composite per street (green_cover_streets.R:60-246)."""
    return streets.street_green_cover(edges)


def greenspace_access(address_location: DataFrame,
                      greenspace: DataFrame,
                      edges: DataFrame | None = None,
                      entrances: DataFrame | None = None,
                      euclidean: bool = True,
                      pseudo_entrance: bool = False,
                      buffer_distance: float = C.BUFFER_M,
                      minimum_greenspace_size: float = C.MIN_GREENSPACE_M2
                      ) -> DataFrame:
    """`greenspace_access(address, ..., euclidean, pseudo_entrance)`
    (accessibility.R:48-369): Euclidean kNN distance to park centroids
    (or to pseudo-entrance nodes when pseudo_entrance=TRUE, mirroring
    the reference's target-point switch), or network shortest-path
    distance — true weighted Dijkstra honoring `length_m` — to the
    chosen targets, bounded by `buffer_distance` (the reference
    searches within the buffer and reports NA beyond,
    accessibility.R:339-349).  Network / pseudo-entrance variants need
    `edges` / an `entrances` table with column entrance_node (the
    dissolved 20 m-buffer node set, accessibility.R:223-247).

    The Euclidean variant is `accessibility.euclidean_access`: one
    bounded fetch of the qualifying parks picks its route (an Arrow
    kernel pass over the fetched dim, or the cell-index join past
    `accessibility.BROADCAST_PARK_LIMIT`); no size is passed in.  The
    network variant solves the road graph on the driver
    (`network.network_access`); a graph of more than
    `network.DRIVER_EDGE_LIMIT` directed edges raises ValueError."""
    from pyspark.sql import functions as F

    def entrance_points():
        if entrances is None:
            raise ValueError(
                "pseudo_entrance=True needs the `entrances` node table")
        # lattice node → coordinates; area above any min-size filter
        # (entrance nodes already came from qualifying parks)
        return entrances.select(
            F.col("entrance_node").alias("park_id"),
            ((F.col("entrance_node") % C.ROAD_N) * C.ROAD_SPACING)
            .cast("double").alias("cx"),
            (F.floor(F.col("entrance_node") / C.ROAD_N) * C.ROAD_SPACING)
            .cast("double").alias("cy"),
            F.lit(float(C.MIN_GREENSPACE_M2 + 1)).alias("area_m2"))

    if euclidean:
        if pseudo_entrance:
            return accessibility.euclidean_access(
                address_location, entrance_points(),
                buffer_m=buffer_distance,
                min_area_m2=minimum_greenspace_size)
        return accessibility.euclidean_access(
            address_location, greenspace, buffer_m=buffer_distance,
            min_area_m2=minimum_greenspace_size)
    if edges is None or entrances is None:
        raise ValueError("network access needs `edges` and `entrances`")
    # the search bound follows the requested buffer
    return network.network_access(
        address_location, edges, entrances,
        buffer_m=buffer_distance,
        max_dist=max(buffer_distance, C.NET_MAX_DIST))


def viewshed(observer: DataFrame,
             max_distance: float = C.VIS_MAX_DIST,
             resolution: float = C.VIS_RES,
             sample_mod: int = 1) -> DataFrame:
    """`viewshed(observer, dsm, dtm, max_distance)` → the masked 0/1
    visibility raster as cell rows (R/viewshed.R:115-162)."""
    return visibility.viewshed_raster(observer, max_distance,
                                      resolution, sample_mod)


def visibility_proportion(observer: DataFrame,
                          max_distance: float = C.VIS_MAX_DIST,
                          resolution: float = C.VIS_RES,
                          sample_mod: int = 1) -> DataFrame:
    """`visibility_proportion` → visible share of the analysis disk
    (visibility_proportion.R:23-26)."""
    return visibility.viewshed_metrics(observer, max_distance,
                                       resolution, sample_mod)


def vgvi_from_sf(observer: DataFrame,
                 observer_type: str = "point",
                 max_distance: float = C.VIS_MAX_DIST,
                 resolution: float = C.VIS_RES,
                 fun: int = 1, m: float = C.VGVI_M, b: float = C.VGVI_B,
                 spacing: float = 25.0) -> DataFrame:
    """`vgvi_from_sf(observer, dsm, dtm, greenspace, mode, m, b)`
    (vgvi_from_sf.R:95-332) accepting the reference's three observer
    geometry classes: POINT runs the kernel per row; LINESTRING is
    densified with st_line_sample every `spacing` m (:191-198);
    POLYGON becomes the masked grid (:199-210)."""
    # sample_mod=1: the API processes EVERY observer (the registry's
    # gate queries subsample only to bound gate cost)
    if observer_type == "point":
        return visibility.vgvi_points(observer, max_distance, resolution,
                                      fun, m, b, sample_mod=1)
    if observer_type == "line":
        return visibility.vgvi_lines(observer, spacing, max_distance,
                                     resolution, fun, m, b, sample_mod=1)
    if observer_type == "polygon":
        return visibility.vgvi_polygons(observer, 2 * spacing,
                                        max_distance, resolution,
                                        fun, m, b, sample_mod=1)
    raise ValueError(f"unknown observer_type {observer_type!r}")


def vgvi_from_address(address_location: DataFrame,
                      buffer_distance: float = 100.0,
                      sample_points: int = 30,
                      max_distance: float = C.VIS_MAX_DIST,
                      resolution: float = C.VIS_RES,
                      fun: int = 1, m: float = C.VGVI_M,
                      b: float = C.VGVI_B) -> DataFrame:
    """`vgvi_from_address(address, ..., sample_points=30)`
    (vgvi_from_address.R:257-371): seeded sample points in the buffer
    disc → mean VGVI per address — for EVERY address (sample_mod=1;
    the registry's gate query subsamples only for gate cost)."""
    return visibility.vgvi_from_address(
        address_location, buffer_distance, sample_points,
        max_distance, resolution, fun, m, b, sample_mod=1)


def sf_to_rast(observer: DataFrame, v: str = "radius", spark=None,
               xmin: int = 0, ymin: int = 0,
               size_m: int = C.WORLD_SIZE, res: int = 100) -> DataFrame:
    """`sf_to_rast(observer, v, aoi, beta)` → IDW interpolation of the
    observer column `v` onto a raster window of `size_m` meters at
    `res` m cells (sf_to_rast.R:112-183; the reference's IDW_cpp
    export is broken as shipped — semantics follow its formula)."""
    s = spark or observer.sparkSession
    return idw.idw_to_grid(s, observer, xmin, ymin, size_m, res,
                           value_col=v)
