"""Streaming exposure scoring — the north-star pipeline on a live
capture feed.

Once the snapshot question is separated out (pages_stream owns the
stateful latest-capture-per-url aggregate), exposure itself is
PER-ROW: geocode the url, score availability (buffer-zonal mean NDVI
over the closed-form raster field) and accessibility (nearest
≥400 m² park + strict-< in-buffer flag) for that row.  No state, no
watermark, no shuffle — the whole scorer is one Arrow-batched
mapInPandas over the stream, so it runs identically under readStream
(append mode) and batch, and scales by adding executors only.

Parity contracts (tests/test_exposure_stream.py):
  * the kernel's values equal the batch operators
    (availability.ndvi_zonal ⋈ accessibility.euclidean_access)
    bit-for-bit — same integer raster hash, same BIGINT distance
    minimum, same final float expressions;
  * the availableNow stream run equals the batch run row-for-row.

Reference: the exposure families of GreenExp_R (calc_ndvi
ndvi_calc.R:332-344; greenspace_access accessibility.R:307-315)
recomputed continuously instead of per nightly extract.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import constants as C, world
from ..kernels import ndvi_intervals as NI
from ..operators import pages_ops
from ..sources import pages as P
from .events_stream import stage_as_dir

EXPO_SCHEMA = ("url string, warc_ts timestamp, point_id long, "
               "mean_ndvi double, n_cells long, "
               "closest_greenspace double, greenspace_in_buffer boolean")


def _park_arrays(spark: SparkSession,
                 min_area_m2: float = C.MIN_GREENSPACE_M2):
    """The tiny park dim as numpy closure state (the broadcast-join
    analog for a kernel)."""
    pdf = (world.parks_df(spark)
           .where(F.col("area_m2") > min_area_m2)
           .select("cx", "cy").toPandas())
    return (pdf["cx"].to_numpy(dtype=np.int64),
            pdf["cy"].to_numpy(dtype=np.int64))


def exposure_scorer(park_cx: np.ndarray, park_cy: np.ndarray,
                    buffer_m: int = C.BUFFER_M,
                    res: int = C.NDVI_RES):
    """mapInPandas scorer replicating the batch operators exactly:
    NDVI disc sums from the same row-interval kernel as
    availability.ndvi_zonal (kernels/ndvi_intervals.py), distances
    as BIGINT d² minima with one final sqrt."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                yield _score(pdf)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy(dtype=np.int64)
        y = pdf["y"].to_numpy(dtype=np.int64)
        s1, _, n = NI.disc_sums(x, y, buffer_m, res)
        mean_ndvi = s1 / (800.0 * n)
        # accessibility: BIGINT d² minimum over the park dim.
        # Empty dim (every park filtered by min_area): match the
        # batch operator's left-join semantics — no nearest park
        # (inf distance), nothing in buffer (ADVICE r04: the bare
        # d2.min(axis=1) raised on the (n, 0) shape).
        if len(park_cx) == 0:
            min_d2 = np.full(len(x), np.inf)
        else:
            d2 = ((x[:, None] - park_cx[None, :]) ** 2
                  + (y[:, None] - park_cy[None, :]) ** 2)
            min_d2 = d2.min(axis=1)
        return pd.DataFrame({
            "url": pdf["url"].to_numpy(),
            "warc_ts": pdf["warc_ts"].to_numpy(),
            "point_id": pdf["point_id"].to_numpy(),
            "mean_ndvi": mean_ndvi,
            "n_cells": n,
            "closest_greenspace": np.sqrt(min_d2.astype(np.float64)),
            "greenspace_in_buffer": min_d2 < int(buffer_m) ** 2,
        })

    return run


def score_captures(spark: SparkSession, captures: DataFrame) -> DataFrame:
    """Attach exposure scores to geocoded captures (stream or batch —
    the plan is identical)."""
    cx, cy = _park_arrays(spark)
    geo = pages_ops.geocode(captures).select(
        "url", F.col("warc_ts").cast("timestamp").alias("warc_ts"),
        "point_id", "x", "y")
    return geo.mapInPandas(exposure_scorer(cx, cy), EXPO_SCHEMA)


def exposure_capture_stream(spark: SparkSession,
                            docs_path: str) -> DataFrame:
    """readStream → capture explode → byte-exact extract → geocode →
    stateless exposure scorer."""
    docs_path = stage_as_dir(docs_path)
    static = spark.read.parquet(docs_path)
    stream = spark.readStream.schema(static.schema).parquet(docs_path)
    captures = pages_ops.extract_text(P._pages_from_docs(stream))
    return score_captures(spark, captures)


def run_exposure_available_now(spark: SparkSession, docs_path: str,
                               table_name: str = "expo_stream"
                               ) -> DataFrame:
    """Drain the available input; append mode — the scorer is
    stateless, so rows emit immediately (no watermark wait)."""
    q = (exposure_capture_stream(spark, docs_path)
         .writeStream.format("memory").queryName(table_name)
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(table_name)
