"""Cell-bucketed nearest-neighbor search (SURVEY J2's scale path).

`accessibility.euclidean_access` fetches the park dim to the driver
in one bounded collect and scores it in an Arrow pass — right whenever
the greenspace dim fits in memory (it almost always does).  This
module is the other regime, and the route `euclidean_access` takes
for a dim past BROADCAST_PARK_LIMIT (or an empty one).

Plan: parks explode to every bucket cell within `search_radius` of
their centroid (the "cell → polygon index"; its size is
O(n_parks · (2R/cell)²) rows of 3 longs, so for realistic R it is
still broadcastable — and we do broadcast it; for truly huge layers
the same plan works as a sort-merge equi-join on cell_id).  Points
join their own cell only — one equi-join, no ring iteration at query
time because the rings were precomputed on the index side.  Points
with no park within `search_radius` fall back to the exact broadcast
path (rare by construction; keeps the operator exact, not
approximate).

Results are identical to the kernel route (tests/test_knn_cells.py).
Candidate d² is the shared `Dialect.dist2` text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import constants as C
from ..dialect import SPARK
from .accessibility import nearest_sql

# the BIGINT squared distance of a (point, park) candidate row
_D2 = SPARK.dist2("x", "y", "cx", "cy") + " AS d2"


def cell_park_index(parks: DataFrame, search_radius: float,
                    cell: int = C.CELL_SIZE,
                    min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """(cell_id, park_id, cx, cy): every bucket cell within
    search_radius of each (qualifying) park centroid."""
    p = parks.where(F.col("area_m2") > min_area_m2) \
             .select("park_id", "cx", "cy")
    lo = lambda c: F.floor((F.col(c) - search_radius) / cell).cast("long")
    hi = lambda c: F.floor((F.col(c) + search_radius) / cell).cast("long")
    exploded = (p
                .withColumn("bx", F.explode(F.sequence(lo("cx"), hi("cx"))))
                .withColumn("by", F.explode(F.sequence(lo("cy"), hi("cy")))))
    # keep only cells whose nearest corner is within reach (prunes the
    # square to a disc — ~21% fewer index rows)
    ccx = (F.col("bx") + 0.5) * cell
    ccy = (F.col("by") + 0.5) * cell
    half = cell / 2.0
    dx = F.greatest(F.abs(ccx - F.col("cx")) - half, F.lit(0.0))
    dy = F.greatest(F.abs(ccy - F.col("cy")) - half, F.lit(0.0))
    exploded = exploded.where(dx * dx + dy * dy
                              <= float(search_radius) ** 2)
    return exploded.select(
        (F.col("bx") * C.CELL_SHIFT + F.col("by")).alias("cell_id"),
        "park_id", "cx", "cy")


def euclidean_access_cells(points: DataFrame, parks: DataFrame,
                           buffer_m: float = C.BUFFER_M,
                           search_radius: float = 4000.0,
                           cell: int = C.CELL_SIZE,
                           min_area_m2: float = C.MIN_GREENSPACE_M2
                           ) -> DataFrame:
    """accessibility.euclidean_access through the cell-index plan;
    exact (falls back to broadcast for out-of-range points)."""
    idx = cell_park_index(parks, search_radius, cell, min_area_m2)
    pts = points.select(
        "point_id", "x", "y",
        (F.floor(F.col("x") / cell) * C.CELL_SHIFT
         + F.floor(F.col("y") / cell)).alias("cell_id"))
    cand = (pts.join(F.broadcast(idx), "cell_id")
            .selectExpr("point_id", _D2))
    near = cand.groupBy("point_id").agg(F.min("d2").alias("min_d2"))
    # the index is complete for any true-nearest within search_radius
    # (park-to-cell distance ≤ park-to-point distance); a best
    # candidate beyond it can be beaten by an unindexed park → exact
    # fallback for those points and for cells with no candidate at all
    r2 = int(search_radius) ** 2
    near = near.where(F.col("min_d2") <= r2)
    missed = pts.join(near.select("point_id"), "point_id", "left_anti")
    p_all = parks.where(F.col("area_m2") > min_area_m2) \
                 .select("park_id", "cx", "cy")
    far = (missed.join(F.broadcast(p_all))
           .selectExpr("point_id", _D2)
           .groupBy("point_id").agg(F.min("d2").alias("min_d2")))
    out = near.unionByName(far)
    return out.selectExpr("point_id", *nearest_sql(buffer_m))


def knn_parks_cells(points: DataFrame, parks: DataFrame, k: int = 5,
                    buffer_m: float = C.BUFFER_M,
                    search_radius: float = 4000.0,
                    cell: int = C.CELL_SIZE,
                    min_area_m2: float = C.MIN_GREENSPACE_M2) -> DataFrame:
    """k-nearest parks through the cell index (SURVEY J2 scale path,
    accessibility.R:310-311 FNN k=5) — the k>1 twin of
    euclidean_access_cells (VERDICT r02 'What's missing #3').

    Exactness routing: the index holds every park within search_radius
    of a point's cell, so a point's candidate top-k is the true top-k
    iff it found k candidates AND its k-th distance ≤ search_radius
    (every park nearer than the k-th is then guaranteed indexed).
    Points failing that (far from k parks) fall back to the exact
    broadcast ranking — a one-shot equi-join plan, no ring iteration
    at query time (rings were precomputed on the index side).
    Output: (point_id, rank, park_id, dist_m) — same as knn_parks.
    """
    from pyspark.sql import Window
    idx = cell_park_index(parks, search_radius, cell, min_area_m2)
    pts = points.select(
        "point_id", "x", "y",
        (F.floor(F.col("x") / cell) * C.CELL_SHIFT
         + F.floor(F.col("y") / cell)).alias("cell_id"))
    cand = (pts.join(F.broadcast(idx), "cell_id")
            .selectExpr("point_id", "park_id", _D2))
    w = Window.partitionBy("point_id").orderBy(F.col("d2").asc(),
                                               F.col("park_id").asc())
    top = cand.withColumn("rank", F.row_number().over(w)) \
              .where(F.col("rank") <= k)
    r2 = int(search_radius) ** 2
    ok = (top.groupBy("point_id")
          .agg(F.max("rank").alias("nk"), F.max("d2").alias("dk"))
          .where((F.col("nk") == k) & (F.col("dk") <= r2))
          .select("point_id"))
    good = top.join(ok, "point_id", "left_semi")
    missed = pts.join(ok, "point_id", "left_anti") \
                .select("point_id", "x", "y")
    from .accessibility import knn_parks
    far = knn_parks(missed, parks, k=k, min_area_m2=min_area_m2) \
        .select("point_id", "rank", "park_id", "dist_m")
    out = good.select(
        "point_id", F.col("rank").cast("int").alias("rank"), "park_id",
        F.sqrt(F.col("d2").cast("double")).alias("dist_m"))
    return out.unionByName(far.select(
        "point_id", F.col("rank").cast("int").alias("rank"), "park_id",
        "dist_m"))
