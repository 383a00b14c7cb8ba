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
  * the kernel is the batch pipeline's (kernels/exposure.py), and its
    values equal the batch operators
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
from ..kernels import exposure as XK
from ..operators import accessibility, pages_ops
from ..sources import pages as P
from .events_stream import stage_as_dir

EXPO_SCHEMA = ("url string, warc_ts timestamp, point_id long, "
               "mean_ndvi double, n_cells long, "
               "closest_greenspace double, greenspace_in_buffer boolean")


def exposure_scorer(park_cx: np.ndarray, park_cy: np.ndarray,
                    buffer_m: int = C.BUFFER_M,
                    res: int = C.NDVI_RES):
    """mapInPandas scorer: the batch pipeline's per-row kernel
    (kernels/exposure.score) finished with the batch operators' final
    expressions; with no park, inf distance and nothing in buffer."""
    parks = (park_cx, park_cy) if len(park_cx) else (None, None)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = XK.score(pdf, *parks, buffer_m=buffer_m, res=res)
            d2 = (out["min_d2"].to_numpy() if parks[0] is not None
                  else np.full(len(out), np.inf))
            yield out.assign(
                mean_ndvi=out["s1"] / (800.0 * out["n_cells"]),
                closest_greenspace=np.sqrt(d2.astype(np.float64)),
                greenspace_in_buffer=d2 < int(buffer_m) ** 2)[[
                    "url", "warc_ts", "point_id", "mean_ndvi", "n_cells",
                    "closest_greenspace", "greenspace_in_buffer"]]

    return run


def score_captures(spark: SparkSession, captures: DataFrame) -> DataFrame:
    """Attach exposure scores to geocoded captures (stream or batch —
    the plan is identical).  The park dim rides in the scorer's
    closure; above accessibility.BROADCAST_PARK_LIMIT parks this
    raises ValueError (a stream has no cell-index join to fall back
    on)."""
    parks = accessibility.park_centroids(world.parks_df(spark))
    if parks is None:
        raise ValueError("park dim above BROADCAST_PARK_LIMIT")
    cx, cy = parks
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
