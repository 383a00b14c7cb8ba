"""Exact polygon overlay (J4/J7/U3): per-point greenspace area
fraction using true polygon clipping instead of grid discretization.

Plan shape is the canonical spatial join (SURVEY J7,
accessibility.R:233-244's st_intersection_faster):
  1. coarse prune: bucket equi-join point buffers × park bboxes
     (broadcast hash join, Catalyst-visible arithmetic);
  2. exact refine: applyInPandas — Sutherland–Hodgman clip of the
     park k-gon by the buffer disc polygon (64-gon), shoelace area;
  3. per-point SUM(clip area) / buffer area, clamp 100.
     Like park_coverage.R:337-358 this sums per-polygon clip areas
     WITHOUT dissolving overlapping greenspace — overlap double-counts
     and the clamp at 100 (:358) exists precisely to absorb that.
     The dissolved-union variant (U3) is the grid path in
     availability.greenspace_pct (a cell is green once no matter how
     many parks cover it).

Park geometries travel as WKB binary columns (S1 contract) and are
decoded inside the Arrow batch by kernels.geom.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from .. import constants as C
from ..kernels import geom as G

BUFFER_VERTICES = 64


def parks_wkb_df(parks: DataFrame) -> DataFrame:
    """Attach WKB k-gon geometry to the parks dim (k = 5 + park_id % 4,
    FIXTURES.md §2) via a pandas UDF batch encode."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def encode(park_id: pd.Series, cx: pd.Series, cy: pd.Series,
               radius: pd.Series) -> pd.Series:
        out = []
        for pid, x, y, r in zip(park_id, cx, cy, radius):
            k = 5 + int(pid) % 4
            out.append(G.wkb_polygon(G.regular_polygon(x, y, r, k)))
        return pd.Series(out)

    return parks.withColumn(
        "geom_wkb", encode(F.col("park_id"), F.col("cx"), F.col("cy"),
                           F.col("radius")))


OUT_SCHEMA = StructType([
    StructField("point_id", LongType()),
    StructField("area_q", LongType()),
])

# per-pair area quantizer: 0.001 m².  The kernel (local-frame
# Sutherland–Hodgman) and the DuckDB oracle (local-frame vertex
# enumeration) compute the same mathematical area with ≲1e-8 m²
# float divergence — 5 orders below the quantizer half-step — so the
# quantized per-pair integers agree exactly and the per-point SUM is
# an order-independent BIGINT sum (exactness doctrine).  Verified
# empirically for the whole deterministic fixture at sf0.01 and sf0.1.
AREA_Q = 1000.0


def greenspace_polygon_pct(points: DataFrame, parks: DataFrame,
                           buffer_m: float = C.BUFFER_M,
                           bucket: int = 1000) -> DataFrame:
    """(point_id, greenspace_poly_pct): exact clipped-area fraction.

    Geometry runs in POINT-LOCAL coordinates (park ring minus the
    point, buffer disc at the origin): with coordinates ≤ buffer+
    radius instead of ~2e4 world meters, float error drops ~1e6×,
    which is what makes the cross-engine quantized contract exact
    (VERDICT r03 'Next round #2')."""
    pw = parks_wkb_df(parks)
    lo = lambda c, r: F.floor((F.col(c) - r) / bucket).cast("long")
    hi = lambda c, r: F.floor((F.col(c) + r) / bucket).cast("long")
    lay = (pw.withColumn("bx", F.explode(F.sequence(
               lo("cx", F.col("radius")), hi("cx", F.col("radius")))))
           .withColumn("by", F.explode(F.sequence(
               lo("cy", F.col("radius")), hi("cy", F.col("radius")))))
           .select("bx", "by", "geom_wkb"))
    pts = (points.select("point_id", "x", "y")
           .withColumn("bx", F.explode(F.sequence(
               lo("x", F.lit(buffer_m)), hi("x", F.lit(buffer_m)))))
           .withColumn("by", F.explode(F.sequence(
               lo("y", F.lit(buffer_m)), hi("y", F.lit(buffer_m))))))
    cand = pts.join(F.broadcast(lay), ["bx", "by"]) \
              .select("point_id", "x", "y", "geom_wkb") \
              .dropDuplicates(["point_id", "geom_wkb"])

    buf_local = G.regular_polygon(0.0, 0.0, buffer_m, BUFFER_VERTICES)

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            qs, pids = [], []
            for pid, x, y, wkb in zip(pdf["point_id"], pdf["x"],
                                      pdf["y"], pdf["geom_wkb"]):
                ring = G.parse_wkb_polygon(bytes(wkb))
                ring_local = ring - np.array([x, y])
                a = G.intersection_area(ring_local, buf_local)
                if a > 0.0:
                    pids.append(pid)
                    # half-up per-pair quantization, same functional
                    # form as the oracle's FLOOR(a*Q + 0.5)
                    qs.append(int(np.floor(a * AREA_Q + 0.5)))
            yield pd.DataFrame({"point_id": pids,
                                "area_q": pd.Series(qs, dtype="int64")})

    clipped = cand.mapInPandas(refine, OUT_SCHEMA)
    per_point = clipped.groupBy("point_id").agg(
        F.sum("area_q").alias("green_q"))
    buf_area = float(abs(G.polygon_area(buf_local)))
    # coalesce BEFORE the clamp: Spark's least() skips nulls, so
    # least(null, 100) would turn "no greenspace" into 100%
    green_q = F.coalesce(F.col("green_q"), F.lit(0)).cast("double")
    pct = F.least(green_q / AREA_Q / buf_area * 100.0, F.lit(100.0))
    out = points.select("point_id").join(per_point, "point_id", "left")
    return out.select("point_id", pct.alias("greenspace_poly_pct"))


def greenspace_rings_pct(points: DataFrame, parks_wkb: DataFrame,
                         buffer_m: float = C.BUFFER_M,
                         bucket: int = 2000) -> DataFrame:
    """Exact clipped-area greenspace fraction over HOLED/MULTIPOLYGON
    parks: the J4 overlay with the full ring semantics — member areas
    add, hole areas subtract (kernels/concave.intersection_area_holes)
    — in point-local coordinates like greenspace_polygon_pct.  Same
    J7 plan shape: bucketed equi-join coarse prune (broadcast park
    layer) → mapInPandas exact refine → per-point sum + clamp.
    Output: (point_id, greenspace_rings_pct)."""
    lo = lambda c, e: F.floor((F.col(c) - e) / bucket).cast("long")
    hi = lambda c, e: F.floor((F.col(c) + e) / bucket).cast("long")
    lay = (parks_wkb
           .withColumn("bx", F.explode(F.sequence(lo("bxmin", F.lit(0)),
                                                  hi("bxmax", F.lit(0)))))
           .withColumn("by", F.explode(F.sequence(lo("bymin", F.lit(0)),
                                                  hi("bymax", F.lit(0)))))
           .select("bx", "by", "geom_wkb"))
    pts = (points.select("point_id", "x", "y")
           .withColumn("bx", F.explode(F.sequence(
               lo("x", F.lit(buffer_m)), hi("x", F.lit(buffer_m)))))
           .withColumn("by", F.explode(F.sequence(
               lo("y", F.lit(buffer_m)), hi("y", F.lit(buffer_m))))))
    cand = pts.join(F.broadcast(lay), ["bx", "by"]) \
              .select("point_id", "x", "y", "geom_wkb") \
              .dropDuplicates(["point_id", "geom_wkb"])
    buf_local = G.regular_polygon(0.0, 0.0, buffer_m, BUFFER_VERTICES)

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import concave as CK
        for pdf in it:
            if not len(pdf):
                continue
            qs, pids = [], []
            for pid, x, y, wkb in zip(pdf["point_id"], pdf["x"],
                                      pdf["y"], pdf["geom_wkb"]):
                shift = np.array([x, y])
                a = 0.0
                for rings in G.parse_wkb_rings(bytes(wkb)):
                    a += CK.intersection_area_holes(
                        [r - shift for r in rings], buf_local)
                if a > 0.0:
                    pids.append(pid)
                    qs.append(int(np.floor(a * AREA_Q + 0.5)))
            yield pd.DataFrame({"point_id": pids,
                                "area_q": pd.Series(qs, dtype="int64")})

    clipped = cand.mapInPandas(refine, OUT_SCHEMA)
    per_point = clipped.groupBy("point_id").agg(
        F.sum("area_q").alias("green_q"))
    buf_area = float(abs(G.polygon_area(buf_local)))
    green_q = F.coalesce(F.col("green_q"), F.lit(0)).cast("double")
    pct = F.least(green_q / AREA_Q / buf_area * 100.0, F.lit(100.0))
    out = points.select("point_id").join(per_point, "point_id", "left")
    return out.select("point_id", pct.alias("greenspace_rings_pct"))
