"""Operators over the input_hint pages table (url, warc_ts, html,
text, lang): snapshot dedup, byte-identical text extraction, url
geocoding, cell bucketing with the broadcast cell→polygon index, and
the per-url exposure of the north_rule pipeline:

    pages → latest capture per url → extract text from html →
    geocode url → availability + accessibility (+ sampled visibility)
    exposure per page.

Reference parity: the exposure math is exactly GreenExp_R's
availability (ndvi_calc.R:332-344), accessibility
(accessibility.R:307-315) and VGVI families — here addressed by url
instead of a house point id (web pages as address points).

Scale notes (100 TB posture):
  * the latest capture per url (``latest_extracted_snapshot``, and
    ``snapshot_delta`` with its CDC columns) is ONE hash aggregate on
    url (max-struct → map-side partials; shuffle volume = O(distinct
    urls), the payload rides inside the struct only for the winning
    rows of each partial).
  * ``extract_text`` / ``geocode`` are narrow JVM projections
    (decode/substring/regexp) — zero Python, zero shuffle — rendered
    from the shared-SQL fragments of sources/pages.py and world.py
    that the DuckDB oracles embed.
  * exposure is per row: one Arrow pass (kernels/exposure.py) scores
    every family with the small park dim as closure state — no join,
    no checkpoint; a dim above BROADCAST_PARK_LIMIT keeps the
    cell-index equi-join (knn_cells) for the access columns.
  * ``cell_page_stats`` is the H3/S2-analog bucketing: a broadcast
    cell→park membership index (per-park radius explode, corner
    pruned) joined on cell_id, then per-url then per-cell integer
    aggregates — skewed urban cells are handled by AQE skew split on
    the first aggregate's shuffle (the explicit salting variant for
    the equi-join lives in plans/salting.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .. import constants as C
from ..dialect import SPARK
from ..kernels import exposure as XK
from ..sources import pages as P
from . import accessibility, availability
from .knn_cells import euclidean_access_cells


def cdc_status_sql(old_ts: str, new_ts: str, old_text: str,
                   new_text: str) -> str:
    """CDC status of a url between two crawl snapshots:
      'added'           first captured after the cutoff
      'unchanged'       no capture after the cutoff
      'recrawled_same'  re-captured after the cutoff, same payload
      'changed'         re-captured after the cutoff, new payload"""
    return (f"CASE WHEN {old_ts} IS NULL THEN 'added' "
            f"WHEN {new_ts} = {old_ts} THEN 'unchanged' "
            f"WHEN {new_text} = {old_text} THEN 'recrawled_same' "
            f"ELSE 'changed' END")


def snapshot_delta_sql(d, cutoff_us: int) -> str:
    """Oracle plan of :func:`snapshot_delta`'s CDC columns (assumes a
    preceding `pages` CTE) — conditional MAX + two equi-joins back to
    the capture log (engines without struct-max ordering).  The final
    GROUP BY + MAX(text) collapses equal-timestamp captures to ONE row
    with the lexicographically-largest payload, matching the engine's
    struct-max tie-break exactly (struct comparison falls through
    warc_ts to text)."""
    status = cdc_status_sql("a.old_ts", "a.new_ts", "MAX(po.text)",
                            "MAX(pn.text)")
    return f"""
agg AS (
  SELECT url,
         MAX(CASE WHEN warc_ts <= {d.ts_micros(cutoff_us)}
                  THEN warc_ts END) AS old_ts,
         MAX(warc_ts) AS new_ts
  FROM pages GROUP BY url
),
delta AS (
  SELECT a.url, a.old_ts, a.new_ts, {status} AS status
  FROM agg a
  LEFT JOIN pages po ON po.url = a.url AND po.warc_ts = a.old_ts
  JOIN pages pn ON pn.url = a.url AND pn.warc_ts = a.new_ts
  GROUP BY a.url, a.old_ts, a.new_ts
)"""


def extract_text(pages: DataFrame) -> DataFrame:
    """Re-extract the text from the html payload (byte-identical
    invariant): decode UTF-8, strip the fixed wrapper.  Emits the
    extracted value as ``text`` — downstream consumers (and the gate's
    value hash) see extraction output, never the stored text column."""
    ext = P.text_sql(SPARK)
    return pages.selectExpr("url", "warc_ts", f"{ext} AS text", "lang",
                            f"CAST(length({ext}) AS BIGINT) AS n_chars")


def geocode(pages: DataFrame) -> DataFrame:
    """Geocode urls to world coordinates: parse the page id out of the
    url (regexp, JVM) and apply the deterministic LCG the world uses
    for address points (world.xy_sql) — the pages analog of the
    reference's geocoded address input (Ams_Houses).  A url without a
    page id geocodes to null."""
    from .. import world
    x, y = world.xy_sql("point_id")
    return (pages.withColumns({"point_id": F.expr(P.page_id_sql())})
            .withColumns({"x": F.expr(x), "y": F.expr(y)}))


def latest_extracted_snapshot(pages: DataFrame) -> DataFrame:
    """Extraction-first snapshot: extract text per capture (narrow,
    drops the html payload BEFORE the shuffle — the url aggregate then
    carries text once instead of html+text, ~halving shuffle bytes at
    corpus scale), then the max-struct argmax per url.  Row-identical
    to extracting the latest capture: extraction is a deterministic
    per-row map and capture times are tie-free."""
    return _latest_capture(extract_text(pages))


def _latest_capture(ext: DataFrame,
                    cutoff_us: int | None = None) -> DataFrame:
    """The max-struct argmax per url over extracted captures: ONE hash
    aggregate on url (map-side partials; the payload rides inside the
    struct only for the winning rows of each partial).  With
    ``cutoff_us`` a conditional struct max over the captures up to the
    cutoff rides in the same aggregate and adds the CDC columns
    (old_ts, status)."""
    aggs = [F.expr("max(struct(warc_ts, text, lang, n_chars)) AS s")]
    cols = ["url", "s.warc_ts", "s.text", "s.lang", "s.n_chars"]
    if cutoff_us is not None:
        cut = SPARK.ts_micros(cutoff_us)
        aggs.append(F.expr(f"max(CASE WHEN warc_ts <= {cut} "
                           "THEN struct(warc_ts, text) END) AS o"))
        cols += ["o.warc_ts AS old_ts", cdc_status_sql(
            "o.warc_ts", "s.warc_ts", "o.text", "s.text") + " AS status"]
    return ext.groupBy("url").agg(*aggs).selectExpr(*cols)


def snapshot_delta(pages: DataFrame, cutoff_us: int) -> DataFrame:
    """The extraction-first snapshot of the pages table PLUS the CDC
    columns between the as-of-``cutoff_us`` snapshot and the current
    one (old_ts, status) — the dump-over-dump diff a CC-style pipeline
    runs to process only what changed, from ONE url-keyed aggregate
    (no self-join, no second scan).  At production scale the old side
    would be the previous run's materialized snapshot and this
    degenerates to the same single aggregate over the new increment."""
    return _latest_capture(extract_text(pages), cutoff_us)


def pages_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """latest_extracted_snapshot of the pages table of ``sf_dir``."""
    return latest_extracted_snapshot(P.pages_df(spark, sf_dir))


def pages_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate shape (q_pages_snapshot): :func:`snapshot_delta` of the
    pages table of ``sf_dir`` at the day-23 cutoff, so the gate proves
    both the byte-identical-text invariant and the dump-over-dump delta
    semantics for one shuffle."""
    return snapshot_delta(P.pages_df(spark, sf_dir), C.SNAP_CUTOFF_US)


def exposure_of_pages(pages: DataFrame, parks: DataFrame | None = None,
                      sample_mod: int | None = None) -> DataFrame:
    """The north-star query over a pages DataFrame: per (deduplicated,
    geocoded) page, availability (buffer-zonal NDVI mean/sd) and
    accessibility (distance to the nearest ≥400 m² park, strict-<
    in-buffer flag), keyed by url; with ``sample_mod``, also VGVI on
    the pages whose id is a multiple of it (null elsewhere).  One
    mapInPandas pass (kernels/exposure.score) scores each row from its
    own disc, also when other urls share its page id.

    One exchange feeds the pass: the extracted captures (text, not
    html) are hash-partitioned on url into one partition per core, and
    the snapshot aggregate, the geocode and the pass run behind it in
    one stage.  The exchange is an explicit ``repartition(n, "url")``
    because AQE never coalesces one: the snapshot is small, so AQE
    would coalesce a plain aggregate's shuffle to a couple of
    partitions and the kernel would run on that many cores only (a
    warm 20k-url operation took 2.31 / 1.85 / 2.41 s with 2 / 4 / 8
    partitions on a 4-core host).  The count is the session's
    parallelism, not a tuning knob.  The exchange carries every
    capture, not map-side partial winners: the synthetic tables
    re-crawl 1/4 + 1/16 of their urls, ~31 % more rows of text."""
    from .. import world
    spark = pages.sparkSession
    parks = parks if parks is not None else world.parks_df(spark)
    ext = extract_text(pages).repartition(
        spark.sparkContext.defaultParallelism, "url")
    geo = geocode(_latest_capture(ext)).select(
        "url", "warc_ts", "x", "y", "n_chars", "point_id")
    # an empty dim has no nearest park: the cell plan's inner join then
    # drops every row, as the oracle's does
    cx, cy = accessibility.park_centroids(parks) or (None, None)
    extra = [StructField(c, LongType()) for c in ("s1", "s2", "n_cells")]
    if cx is not None:
        extra.append(StructField("min_d2", LongType()))
    if sample_mod is not None:
        extra.append(StructField("vgvi", DoubleType()))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield XK.score(pdf, cx, cy, sample_mod)

    scored = geo.mapInPandas(run, StructType(geo.schema.fields + extra))
    if cx is None:
        scored = scored.join(euclidean_access_cells(geo, parks), "point_id")
        access = ["closest_greenspace", "greenspace_in_buffer"]
    else:
        access = accessibility.nearest_sql()
    vgvi = ["vgvi"] if sample_mod is not None else []
    return scored.selectExpr("url", "warc_ts", "x", "y", "n_chars",
                             *availability.ndvi_sql(), *access, *vgvi)


def exposure_over_pages(spark: SparkSession, sf_dir: str,
                        parks: DataFrame | None = None,
                        sample_mod: int | None = None) -> DataFrame:
    """:func:`exposure_of_pages` over the pages table of ``sf_dir``
    (gate q_exposure_pages without ``sample_mod``; the flagship with
    ``sample_mod=10``)."""
    return exposure_of_pages(P.pages_df(spark, sf_dir), parks, sample_mod)


def cell_membership_index(parks: DataFrame,
                          cell: int = C.CELL_SIZE) -> DataFrame:
    """(cell_id, park_id, cx, cy, radius): every bucket cell that a
    park's disc could reach — the broadcast cell→polygon index of the
    north_rule, radius-exact per park (corner-pruned)."""
    p = parks.select("park_id", "cx", "cy", "radius")
    lo = lambda c: F.floor((F.col(c) - F.col("radius")) / cell).cast("long")
    hi = lambda c: F.floor((F.col(c) + F.col("radius")) / cell).cast("long")
    e = (p.withColumn("bx", F.explode(F.sequence(lo("cx"), hi("cx"))))
          .withColumn("by", F.explode(F.sequence(lo("cy"), hi("cy")))))
    ccx = (F.col("bx") + 0.5) * cell
    ccy = (F.col("by") + 0.5) * cell
    half = cell / 2.0
    dx = F.greatest(F.abs(ccx - F.col("cx")) - half, F.lit(0.0))
    dy = F.greatest(F.abs(ccy - F.col("cy")) - half, F.lit(0.0))
    e = e.where(dx * dx + dy * dy <= F.col("radius") * F.col("radius"))
    return e.select(
        (F.col("bx") * C.CELL_SHIFT + F.col("by")).alias("cell_id"),
        "park_id", "cx", "cy", "radius")


def cell_page_stats(spark: SparkSession, sf_dir: str,
                    parks: DataFrame | None = None,
                    cell: int = C.CELL_SIZE,
                    salted: bool = False,
                    hot_threshold: int = 10_000,
                    n_salt: int = 8) -> DataFrame:
    """Per-bucket-cell page counts + point-in-greenspace counts over
    the deduplicated pages table: the cell-bucketed spatial-join shape
    of the north_rule (points bucketed by cell, broadcast cell→polygon
    index, PIP test vectorized JVM-side).  Membership is inclusive
    (d ≤ r, all parks — PIP has no minimum-size filter).

    Output: (cell_i, cell_j, n_pages, n_in_park).

    ``salted=True`` takes the non-broadcast regime (an index too large
    to broadcast — continental park layers at 10^12 points): the join
    becomes a shuffle equi-join on cell_id with explicit hot-cell
    salting (plans/salting.py — probe rows of hot cells spread over
    n_salt reducers, build rows replicated), results identical
    (tests/test_pages.py::test_cell_stats_salted_equals_broadcast)."""
    from .. import world
    parks = parks if parks is not None else world.parks_df(spark)
    geo = geocode(pages_snapshot(spark, sf_dir))
    pts = geo.select(
        "url", "x", "y",
        F.floor(F.col("x") / cell).cast("long").alias("cell_i"),
        F.floor(F.col("y") / cell).cast("long").alias("cell_j"))
    pts = pts.withColumn(
        "cell_id", F.col("cell_i") * C.CELL_SHIFT + F.col("cell_j"))
    idx = cell_membership_index(parks, cell)
    if salted:
        from ..plans.salting import salted_join
        hit = salted_join(pts, idx, "cell_id", row_key="url",
                          threshold=hot_threshold, n_salt=n_salt,
                          how="left")
    else:
        hit = pts.join(F.broadcast(idx), "cell_id", "left")
    hit = (hit
           .withColumn(
               "in_park",
               F.when(F.col("park_id").isNotNull()
                      & (F.expr(SPARK.dist2("x", "y", "cx", "cy"))
                         <= (F.col("radius") * F.col("radius"))
                         .cast("long")),
                      F.lit(1)).otherwise(F.lit(0))))
    per_url = (hit.groupBy("url", "cell_i", "cell_j")
               .agg(F.max("in_park").alias("in_park")))
    return (per_url.groupBy("cell_i", "cell_j")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.sum("in_park").cast("long").alias("n_in_park")))
