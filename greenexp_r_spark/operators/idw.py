"""IDW interpolation (SURVEY A13): inverse-distance-weighted value at
each query point from its k nearest observation sites.

The reference's `sf_to_rast` calls an `IDW_cpp` kernel that was never
registered in RcppExports (sf_to_rast.R:178, RcppExports.R:4-15) — the
shipped function cannot run; semantics follow its formula
`Σ z_i/d_i^β / Σ 1/d_i^β` (sf_to_rast.R:178-183) with β=2, n=5.

Determinism: with β=2 the weight is 1/d², and d² is an exact BIGINT;
the per-point fold runs over an explicitly sorted neighbor array
(sort by (d², site)) so both engines add the same doubles in the same
order.  Exact-hit (d²=0) takes the site value, as IDW demands.

Scale: sites (parks) broadcast; the only shuffle is the per-point
top-k window — same shape as accessibility.knn_parks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import constants as C
from ..dialect import SPARK


def idw_at_points(points: DataFrame, parks: DataFrame, k: int = 5,
                  value_col: str = "radius") -> DataFrame:
    """(point_id, idw_value): IDW of the park `value_col` over the k
    nearest park centroids, β=2."""
    p = parks.select("park_id", "cx", "cy",
                     F.col(value_col).alias("val"))
    cand = (points.select("point_id", "x", "y")
            .join(F.broadcast(p))
            .select("point_id", "park_id", "val",
                    F.expr(SPARK.dist2("x", "y", "cx", "cy")).alias("d2")))
    w = Window.partitionBy("point_id").orderBy(F.col("d2").asc(),
                                               F.col("park_id").asc())
    top = cand.withColumn("rank", F.row_number().over(w)) \
              .where(F.col("rank") <= k)
    arr = F.sort_array(F.collect_list(F.struct("d2", "park_id", "val")))
    g = top.groupBy("point_id").agg(arr.alias("nn"))
    num = F.aggregate(F.col("nn"), F.lit(0.0),
                      lambda acc, s: acc + s["val"] / s["d2"])
    den = F.aggregate(F.col("nn"), F.lit(0.0),
                      lambda acc, s: acc + F.lit(1.0) / s["d2"])
    exact = F.element_at(F.col("nn"), 1)
    idw = F.when(exact["d2"] == 0, exact["val"]).otherwise(num / den)
    return g.select("point_id", idw.alias("idw_value"))


def idw_to_grid(spark, parks: DataFrame, xmin: int, ymin: int,
                size: int, res: int, k: int = 5,
                value_col: str = "radius") -> DataFrame:
    """sf_to_rast proper (sf_to_rast.R:121-183): rasterize a window by
    IDW-interpolating site values onto every cell center.  Output is
    tile-table-shaped rows (ci, cj, idw_value) ready for a tile sink
    (S8).  Same deterministic fold as idw_at_points."""
    nx = size // res
    cells = (spark.range(nx * nx)
             .select(((F.col("id") % nx) + xmin // res).alias("ci"),
                     (F.floor(F.col("id") / nx).cast("long")
                      + ymin // res).alias("cj")))
    pts = cells.select(
        (F.col("ci") * 10000 + F.col("cj")).alias("point_id"),
        "ci", "cj",
        ((F.col("ci") + 0.5) * res).alias("x"),
        ((F.col("cj") + 0.5) * res).alias("y"))
    # cell centers are *.5 offsets: scale to integers (×2) to keep the
    # squared-distance arithmetic exact in BIGINT
    pts2 = pts.select("point_id", "ci", "cj",
                      (F.col("x") * 2).alias("x"),
                      (F.col("y") * 2).alias("y"))
    p2 = parks.select("park_id", (F.col("cx") * 2).alias("cx"),
                      (F.col("cy") * 2).alias("cy"),
                      F.col(value_col).alias("radius"))
    out = idw_at_points(pts2, p2, k=k, value_col="radius")
    return (out.join(pts.select("point_id", "ci", "cj"), "point_id")
            .select("ci", "cj", "idw_value"))
