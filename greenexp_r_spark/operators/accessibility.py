"""Accessibility family: distance to nearest greenspace.

Re-expresses GreenExp_R's `greenspace_access` (accessibility.R):
  * Euclidean kNN to park centroids (FNN::get.knnx k=5,
    accessibility.R:310-313) — J2/A6/A7/W2.
  * min-greenspace-size filter (accessibility.R:211-214) — P13.
  * network-distance variant lives in operators/network.py (J6).

Distances are exact: coordinates are integer-valued meters, so
dx²+dy² is computed in BIGINT and only the final sqrt is float —
bit-identical across engines and partition orders.

Scale notes: the park dim is fetched to the driver in ONE bounded
collect (`park_centroids`, at most BROADCAST_PARK_LIMIT rows), which
both picks the route and hands the kernel its input — the size is
never probed by a separate job or passed in by the caller.  A fetched
dim rides as closure state into one Arrow pass over the points
(kernels/exposure.nearest_d2, the numpy mirror of the shared
`Dialect.dist2` text): no join, no shuffle of the points side before
the per-point min.  An empty dim, or one past the limit, takes the
cell-index equi-join (operators/knn_cells.py) instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from .. import constants as C
from ..dialect import SPARK
from ..kernels.exposure import nearest_d2
from ..plans.bounded import fetch_at_most


def euclidean_access(points: DataFrame, parks: DataFrame,
                     buffer_m: float = C.BUFFER_M,
                     min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """(point_id, closest_greenspace, greenspace_in_buffer) —
    accessibility.R:307-315: nearest-centroid distance (:311) and the
    within-buffer boolean (:313).  One row per point id (ids may
    repeat: the nearest over all their rows); a point with a null
    coordinate keeps its row with null distance; an empty park dim
    gives no rows.

    Refuses a mixed-CRS join: if the two layers DECLARE conflicting
    projected CRSs (functions/crs.declare_crs), distances would be
    meaningless — mirror sf's st_distance CRS check.

    Route: the qualifying dim's one bounded fetch (`park_centroids`);
    when it fetched parks, one Arrow pass scores nearest_d2 against
    them, else the cell-index plan (knn_cells) runs."""
    from ..functions.crs import crs_of, require_same_crs
    require_same_crs(points, expect=crs_of(parks, col="cx"))
    dim = park_centroids(parks, min_area_m2)
    if dim is None:
        from .knn_cells import euclidean_access_cells
        return euclidean_access_cells(points, parks, buffer_m,
                                      min_area_m2=min_area_m2)
    cx, cy = dim

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ok = (pdf["x"].notna() & pdf["y"].notna()).to_numpy()
            d2 = pd.Series(pd.NA, index=pdf.index, dtype="Int64")
            d2[ok] = nearest_d2(pdf["x"].to_numpy(np.float64)[ok],
                                pdf["y"].to_numpy(np.float64)[ok], cx, cy)
            yield pd.DataFrame({"point_id": pdf["point_id"], "min_d2": d2})

    near = (points.select("point_id", "x", "y")
            .mapInPandas(run, "point_id long, min_d2 long")
            .groupBy("point_id").agg(F.min("min_d2").alias("min_d2")))
    return near.selectExpr("point_id", *nearest_sql(buffer_m))


def nearest_sql(buffer_m: float = C.BUFFER_M) -> list[str]:
    """(closest_greenspace, greenspace_in_buffer) from the BIGINT
    ``min_d2``; strict < : accessibility.R:313.  One text for the
    engine's ``selectExpr`` and the oracles."""
    return ["sqrt(CAST(min_d2 AS DOUBLE)) AS closest_greenspace",
            f"min_d2 < {int(buffer_m) ** 2} AS greenspace_in_buffer"]


BROADCAST_PARK_LIMIT = 200_000   # dim rows the driver fetches for the
                                 # kernel route; past it, knn_cells


def park_centroids(parks: DataFrame,
                   min_area_m2: float = C.MIN_GREENSPACE_M2):
    """(cx, cy) float arrays of the qualifying parks, or None when
    there are none or more than BROADCAST_PARK_LIMIT of them (the
    cell-index route): one bounded collect both decides the route and
    fetches the dim."""
    pdf = fetch_at_most(
        parks.where(F.col("area_m2") > min_area_m2).select("cx", "cy"),
        BROADCAST_PARK_LIMIT)
    if pdf is None or pdf.empty:
        return None
    return (pdf["cx"].to_numpy(np.float64),
            pdf["cy"].to_numpy(np.float64))


def knn_parks(points: DataFrame, parks: DataFrame, k: int = 5,
              min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """Top-k nearest park centroids per point (FNN k=5 analog, W2).
    Deterministic tie-break on (d2, park_id).  Output:
    (point_id, rank, park_id, dist_m)."""
    p = parks.where(F.col("area_m2") > min_area_m2) \
             .select("park_id", "cx", "cy")
    cand = (points.select("point_id", "x", "y")
            .join(F.broadcast(p))
            .select("point_id", "park_id",
                    F.expr(SPARK.dist2("x", "y", "cx", "cy")).alias("d2")))
    w = Window.partitionBy("point_id").orderBy(F.col("d2").asc(),
                                               F.col("park_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("point_id", "rank", "park_id",
                    F.sqrt(F.col("d2").cast("double")).alias("dist_m")))
