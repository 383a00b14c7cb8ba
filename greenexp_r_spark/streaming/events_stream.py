"""Structured Streaming variant of the events rollup.

The reference is pure batch (SURVEY §1.4/§2.8); this module exists for
the engine's own completeness: the same hourly aggregate as
registry_pipeline's q_events_hourly, expressed as an incremental
streaming query with event-time watermarking, so late events within
the watermark update their hour bucket and older ones are dropped.

Test harness runs it with trigger(availableNow=True) over the static
parquet (treated as a file stream) and asserts the result table equals
the batch aggregate — the standard batch-stream equivalence check.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


def stage_as_dir(parquet_file: str) -> str:
    """FileStreamSource requires a directory; stage a single parquet
    file into a temp dir via symlink."""
    if os.path.isdir(parquet_file):
        return parquet_file
    d = tempfile.mkdtemp(prefix="greenexp_stream_")
    os.symlink(parquet_file, os.path.join(d, os.path.basename(parquet_file)))
    return d


def hourly_rollup_stream(spark: SparkSession, events_path: str,
                         watermark: str = "2 hours") -> DataFrame:
    """readStream → watermark → windowed agg; returns the streaming df
    (caller attaches the sink)."""
    events_path = stage_as_dir(events_path)
    static = spark.read.parquet(events_path)
    stream = (spark.readStream
              .schema(static.schema)
              .parquet(events_path))
    # the parquet carries TIMESTAMP_NTZ; watermarking needs TIMESTAMP
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 1000000).cast("long"))
                 .alias("value_sum_micros"))
            .select(F.col("w.start").alias("hour"), "event_type",
                    "n_events", "value_sum_micros"))


def run_available_now(spark: SparkSession, events_path: str,
                      table_name: str = "events_hourly_stream") -> DataFrame:
    """Drain the source with availableNow and return the result as a
    batch DataFrame (complete mode in-memory sink)."""
    q = (hourly_rollup_stream(spark, events_path)
         .writeStream.format("memory")
         .queryName(table_name)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return spark.table(table_name)
