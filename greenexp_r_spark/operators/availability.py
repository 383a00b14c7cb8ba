"""Availability family: buffer-zonal raster statistics + overlay fractions.

Re-expresses GreenExp_R's `calc_ndvi` (ndvi_calc.R:332-344),
`land_cover` (land_cover.R:368-399), `greenspace_pct`
(park_coverage.R:337-358) and `canopy_pct` (canopy_coverage.R:334-345)
as Spark plans.  A buffer covers the raster cells whose *center* lies
in its disc (covered_cells); the raster is "virtual": cell values are
a closed-form function of the cell index (world.ndvi_int_expr), so no
tile shuffle is needed.  The tile-table join variant (real raster
arrays) lives in `operators/zonal_tiles.py` — same outputs, exercised
by pytest.

Two plan shapes:
  * NDVI (ndvi_zonal): an Arrow-batched mapInPandas over (point_id,
    x, y) → the row-interval kernel (kernels/ndvi_intervals.py) sums
    the integer field and its square along each raster row's chord of
    the disc from per-row prefix sums — ~2R/res differences per point
    instead of ~π(R/res)² cells — then a per-point sum and the final
    float expressions in Spark.  Prefix tables are tiles cached per
    Python worker under a fixed cap.
  * land cover and the cover percentages: points → explode(sequence)
    of covered cells → disc-membership filter → integer aggregate per
    point, all whole-stage-codegen JVM arithmetic.  Overlay joins use
    the J7 shape (SURVEY.md §2.3): coarse bucket equi-join (hash
    join, broadcastable small side) → exact distance refine.  Never a
    nested-loop theta join.

Either way shuffle volume is O(points), not O(points × cells), and
integer sums (world.ndvi_int_expr) make results bit-identical across
engines and partition orders — also the right call at scale, where
float sums are nondeterministic under retries/AQE re-splits.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .. import constants as C
from .. import world
from ..kernels import exposure as XK


def covered_cells(points: DataFrame, buffer_m: float, res: int) -> DataFrame:
    """Explode each point into the raster cells whose *center* lies in
    its disc buffer — the discrete zonal-extract semantics of
    terra::extract (ndvi_calc.R:332)."""
    x, y = F.col("x"), F.col("y")
    lo = lambda c: F.floor((c - buffer_m) / res).cast("long")
    hi = lambda c: F.floor((c + buffer_m) / res).cast("long")
    cells = (
        points
        .withColumn("ci", F.explode(F.sequence(lo(x), hi(x))))
        .withColumn("cj", F.explode(F.sequence(lo(y), hi(y))))
    )
    ccx = (F.col("ci") + 0.5) * res
    ccy = (F.col("cj") + 0.5) * res
    return cells.where(
        (ccx - x) * (ccx - x) + (ccy - y) * (ccy - y) <= float(buffer_m) ** 2)


def ndvi_zonal(points: DataFrame, buffer_m: float = C.BUFFER_M,
               add_sd: bool = True) -> DataFrame:
    """Mean (and sample-sd) NDVI in each point's disc buffer.

    Parity target: ndvi_calc.R:332-344 (NA→0 at :336, mean at :339,
    sample sd at :341-344).  Output: (point_id, mean_ndvi[, sd_ndvi],
    n_cells).

    The integer moments come from the row-interval kernel
    (kernels/ndvi_intervals.py) over Arrow batches of points: the
    same cells as covered_cells, summed from per-row prefix sums.
    """
    pts = points.select("point_id", "x", "y")
    schema = StructType([
        StructField("point_id", pts.schema["point_id"].dataType),
        StructField("s1", LongType()),
        StructField("s2", LongType()),
        StructField("n_cells", LongType()),
    ])

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows with a null coordinate or no cell centre in their disc
        # are dropped, as in the oracle's GROUP BY over covered cells
        for pdf in it:
            yield XK.score(pdf, buffer_m=buffer_m)[list(schema.names)]

    # a point id may arrive in several rows: its moments add up
    agg = pts.mapInPandas(run, schema).groupBy("point_id").agg(
        *(F.sum(c).alias(c) for c in ("s1", "s2", "n_cells")))
    return agg.selectExpr("point_id", *ndvi_sql(add_sd))


def ndvi_sql(add_sd: bool = True) -> list[str]:
    """mean_ndvi[, sd_ndvi], n_cells from the integer moments (s1, s2,
    n_cells) of the NDVI field over a disc: the one text of the
    availability values, for the engine's ``selectExpr`` and the
    oracles alike.  The sample sd (R `sd`, n-1) is one fixed
    expression tree over the exact moments, so both engines emit the
    same bits; the scale is cast because Spark reads 800.0 as a
    DECIMAL."""
    s1, s2, n = (f"CAST({c} AS DOUBLE)" for c in ("s1", "s2", "n_cells"))
    scale = "CAST(800.0 AS DOUBLE)"
    out = [f"{s1} / ({scale} * n_cells) AS mean_ndvi"]
    if add_sd:
        var = f"({s2} - {s1} * {s1} / {n}) / ({n} - 1.0)"
        out.append(f"sqrt({var}) / {scale} AS sd_ndvi")
    return out + ["n_cells"]


def landcover_fractions(points: DataFrame,
                        buffer_m: float = C.BUFFER_M) -> DataFrame:
    """Per-point land-cover class fractions (land_cover.R:368-399).

    The reference pivots cell counts wide then divides by the row sum
    (land_cover.R:373-377); here it's one hash aggregate of conditional
    integer counts — single shuffle, no pivot pass.  Also emits the
    greencover composite (green_cover_streets.R:244-246).
    """
    cells = covered_cells(points.select("point_id", "x", "y"),
                          buffer_m, C.LC_RES)
    cells = cells.withColumn("code", F.expr(world.landcover_expr("ci", "cj")))
    aggs = [F.count(F.lit(1)).alias("n_cells")]
    for c in C.LC_CODES:
        aggs.append(F.sum(F.when(F.col("code") == c, 1).otherwise(0))
                    .alias(f"cnt_{c}"))
    g = cells.groupBy("point_id").agg(*aggs)
    n = F.col("n_cells").cast("double")
    cols = [F.col("point_id")]
    # 12-column parity with land_cover.R:393-399: every WorldCover
    # class appears, zero-filled when absent from the raster (the
    # reference's setdiff(codes, ...) missing-column fill, U4)
    for c in C.LC_ALL_CODES:
        if c in C.LC_CODES:
            cols.append((F.col(f"cnt_{c}").cast("double") / n)
                        .alias(C.LC_LABELS[c]))
        else:
            cols.append(F.lit(0.0).alias(C.LC_LABELS[c]))
    green = sum(F.col(f"cnt_{c}") for c in C.GREEN_CODES).cast("double") / n
    cols.append(green.alias("greencover"))
    cols.append(F.col("n_cells"))
    return g.select(*cols)


def _bucketed_disc_layer(layer: DataFrame, cx: str, cy: str, r: str,
                         bucket: int) -> DataFrame:
    """Explode a disc layer to every coarse bucket it can touch —
    the broadcastable side of the J7 coarse-join → refine plan."""
    lo = lambda c: F.floor((F.col(c) - F.col(r)) / bucket).cast("long")
    hi = lambda c: F.floor((F.col(c) + F.col(r)) / bucket).cast("long")
    return (layer
            .withColumn("bx", F.explode(F.sequence(lo(cx), hi(cx))))
            .withColumn("by", F.explode(F.sequence(lo(cy), hi(cy)))))


def _disc_cover_pct(points: DataFrame, layer: DataFrame,
                    cx: str, cy: str, r: str,
                    buffer_m: float, res: int, bucket: int,
                    out_name: str) -> DataFrame:
    """Shared area-fraction plan: % of buffer cells whose center falls
    inside ≥1 disc of `layer`.

    Plan shape: cells bucket-keyed → **broadcast hash equi-join** on
    (bx, by) with the bucket-exploded layer → exact distance refine →
    LEFT SEMI (each covered cell once, no post-join dedup shuffle) →
    count per point / total per point.
    """
    cells = covered_cells(points.select("point_id", "x", "y"),
                          buffer_m, res).select("point_id", "ci", "cj")
    ccx = (F.col("ci") + 0.5) * res
    ccy = (F.col("cj") + 0.5) * res
    cells = (cells
             .withColumn("bx", F.floor(ccx / bucket).cast("long"))
             .withColumn("by", F.floor(ccy / bucket).cast("long")))
    lay = _bucketed_disc_layer(layer, cx, cy, r, bucket).select(
        "bx", "by", F.col(cx).alias("_lx"), F.col(cy).alias("_ly"),
        F.col(r).alias("_lr"))
    dist2 = ((ccx - F.col("_lx")) * (ccx - F.col("_lx"))
             + (ccy - F.col("_ly")) * (ccy - F.col("_ly")))
    cond = ((cells["bx"] == lay["bx"]) & (cells["by"] == lay["by"])
            & (dist2 <= F.col("_lr") * F.col("_lr")))
    covered = cells.join(F.broadcast(lay), on=cond, how="left_semi")
    g = covered.groupBy("point_id").agg(F.count(F.lit(1)).alias("g"))
    n = cells.groupBy("point_id").agg(F.count(F.lit(1)).alias("n_cells"))
    pct = F.least(
        F.coalesce(F.col("g"), F.lit(0)).cast("double")
        / F.col("n_cells").cast("double") * 100.0,
        F.lit(100.0))  # clamp, park_coverage.R:358
    return (n.join(g, "point_id", "left")
            .select("point_id", pct.alias(out_name), "n_cells"))


def greenspace_pct(points: DataFrame, parks: DataFrame,
                   buffer_m: float = C.BUFFER_M,
                   res: int = C.LC_RES) -> DataFrame:
    """% of each point's buffer covered by greenspace (park discs) —
    park_coverage.R:337-358 semantics via grid discretization.  The
    polygon-clip variant (numpy Sutherland–Hodgman) is in
    kernels/geom.py; this relational form is the scale path."""
    return _disc_cover_pct(points, parks, "cx", "cy", "radius",
                           buffer_m, res, bucket=500,
                           out_name="greenspace_pct")


def canopy_pct(points: DataFrame, trees: DataFrame,
               buffer_m: float = C.BUFFER_M, res: int = 10) -> DataFrame:
    """% canopy cover in buffer (canopy_coverage.R:334-345): the same
    discretized area fraction against tree-canopy discs (~2-5 m radius,
    canopy_coverage.R:283-291)."""
    t = trees.select("tree_id", F.col("x").alias("tx"),
                     F.col("y").alias("ty"), "canopy_radius_m")
    return _disc_cover_pct(points, t, "tx", "ty", "canopy_radius_m",
                           buffer_m, res, bucket=50,
                           out_name="canopy_pct")
