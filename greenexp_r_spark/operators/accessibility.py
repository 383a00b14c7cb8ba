"""Accessibility family: distance to nearest greenspace.

Re-expresses GreenExp_R's `greenspace_access` (accessibility.R):
  * Euclidean kNN to park centroids (FNN::get.knnx k=5,
    accessibility.R:310-313) — J2/A6/A7/W2.
  * min-greenspace-size filter (accessibility.R:211-214) — P13.
  * network-distance variant lives in operators/network.py (J6).

Distances are exact: coordinates are integer-valued meters, so
dx²+dy² is computed in BIGINT and only the final sqrt is float —
bit-identical across engines and partition orders.

Scale notes: parks are a small dimension → **broadcast hash join**;
no shuffle on the 10^12-row points side at all for the min-distance
aggregate (partial agg runs map-side; final agg shuffles O(points)
pre-aggregated rows).  For park layers too large to broadcast, the
cell-ring kNN (operators/knn_cells.py) keeps the join equi on cell_id.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from .. import constants as C
from ..plans.bounded import fetch_at_most


def _dist2(px="x", py="y", cx="cx", cy="cy"):
    dx = (F.col(px) - F.col(cx)).cast("long")
    dy = (F.col(py) - F.col(cy)).cast("long")
    return (dx * dx + dy * dy).alias("d2")


def euclidean_access(points: DataFrame, parks: DataFrame,
                     buffer_m: float = C.BUFFER_M,
                     min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """(point_id, closest_greenspace, greenspace_in_buffer) —
    accessibility.R:307-315: nearest-centroid distance (:311) and the
    within-buffer boolean (:313).

    Refuses a mixed-CRS join: if the two layers DECLARE conflicting
    projected CRSs (functions/crs.declare_crs), distances would be
    meaningless — mirror sf's st_distance CRS check."""
    from ..functions.crs import crs_of, require_same_crs
    require_same_crs(points, expect=crs_of(parks, col="cx"))
    p = parks.where(F.col("area_m2") > min_area_m2) \
             .select("park_id", "cx", "cy")
    cand = (points.select("point_id", "x", "y")
            .join(F.broadcast(p))
            .select("point_id", _dist2()))
    out = cand.groupBy("point_id").agg(F.min("d2").alias("min_d2"))
    return out.selectExpr("point_id", *nearest_sql(buffer_m))


def nearest_sql(buffer_m: float = C.BUFFER_M) -> list[str]:
    """(closest_greenspace, greenspace_in_buffer) from the BIGINT
    ``min_d2``; strict < : accessibility.R:313.  One text for the
    engine's ``selectExpr`` and the oracles."""
    return ["sqrt(CAST(min_d2 AS DOUBLE)) AS closest_greenspace",
            f"min_d2 < {int(buffer_m) ** 2} AS greenspace_in_buffer"]


BROADCAST_PARK_LIMIT = 200_000   # dim rows beyond which the broadcast
                                 # cross stops being the right plan


def park_centroids(parks: DataFrame,
                   min_area_m2: float = C.MIN_GREENSPACE_M2):
    """(cx, cy) float arrays of the qualifying parks, or None when
    there are more than BROADCAST_PARK_LIMIT of them: one bounded
    collect both decides the route and fetches the dim."""
    pdf = fetch_at_most(
        parks.where(F.col("area_m2") > min_area_m2).select("cx", "cy"),
        BROADCAST_PARK_LIMIT)
    if pdf is None:
        return None
    return (pdf["cx"].to_numpy(np.float64),
            pdf["cy"].to_numpy(np.float64))


def euclidean_access_auto(points: DataFrame, parks: DataFrame,
                          buffer_m: float = C.BUFFER_M,
                          min_area_m2: float = C.MIN_GREENSPACE_M2,
                          n_parks_hint: int | None = None) -> DataFrame:
    """Size-routed euclidean access: tiny park dims take the broadcast
    cross + map-side min-agg (the README-scale plan); larger layers
    route through the cell-index equi-join (knn_cells), which is
    gate-verified identical.  Pass `n_parks_hint` when the dim's size
    is already known (table statistics / a fixture constant) to skip
    the probe; otherwise the probe is one bounded limit-count, not a
    full dim scan."""
    n_probe = (n_parks_hint if n_parks_hint is not None
               else parks.limit(BROADCAST_PARK_LIMIT + 1).count())
    if n_probe <= BROADCAST_PARK_LIMIT:
        return euclidean_access(points, parks, buffer_m, min_area_m2)
    from .knn_cells import euclidean_access_cells
    return euclidean_access_cells(points, parks, buffer_m,
                                  min_area_m2=min_area_m2)


def knn_parks(points: DataFrame, parks: DataFrame, k: int = 5,
              min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """Top-k nearest park centroids per point (FNN k=5 analog, W2).
    Deterministic tie-break on (d2, park_id).  Output:
    (point_id, rank, park_id, dist_m)."""
    p = parks.where(F.col("area_m2") > min_area_m2) \
             .select("park_id", "cx", "cy")
    cand = (points.select("point_id", "x", "y")
            .join(F.broadcast(p))
            .select("point_id", "park_id", _dist2()))
    w = Window.partitionBy("point_id").orderBy(F.col("d2").asc(),
                                               F.col("park_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("point_id", "rank", "park_id",
                    F.sqrt(F.col("d2").cast("double")).alias("dist_m")))
