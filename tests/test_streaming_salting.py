"""Structured Streaming batch-equivalence, salted-join equivalence, and
the batch sessionizer against a pandas gap-split oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from greenexp_r_spark import constants as C, world
from greenexp_r_spark.operators import sessions
from greenexp_r_spark.plans import salting
from greenexp_r_spark.streaming import events_stream

from .conftest import SF_TEST


def test_stream_equals_batch(spark):
    path = f"{SF_TEST}/events.parquet"
    got = (events_stream.run_available_now(spark, path)
           .orderBy("hour", "event_type").toPandas())
    ev = spark.read.parquet(path)
    want = (ev.groupBy(F.date_trunc("hour", F.col("ts").cast("timestamp"))
                       .alias("hour"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 1000000).cast("long"))
                 .alias("value_sum_micros"))
            .orderBy("hour", "event_type").toPandas())
    assert got.equals(want)


def _with_cell_id(df, x="x", y="y"):
    """The integer grid key of SURVEY.md §4.3:
    floor(x/cell)*CELL_SHIFT + floor(y/cell)."""
    return df.withColumn(
        "cell_id", F.floor(F.col(x) / C.CELL_SIZE) * C.CELL_SHIFT
        + F.floor(F.col(y) / C.CELL_SIZE))


def test_salted_join_equivalence(spark):
    pts = _with_cell_id(world.points_df(spark, SF_TEST))
    parks = _with_cell_id(world.parks_df(spark), x="cx", y="cy")
    plain = (pts.join(parks.select("cell_id", "park_id"), "cell_id")
             .select("point_id", "park_id"))
    salted = salting.salted_join(
        pts, parks.select("cell_id", "park_id"), key="cell_id",
        row_key="point_id", threshold=5, n_salt=4
    ).select("point_id", "park_id")
    a = plain.orderBy("point_id", "park_id").toPandas()
    b = salted.orderBy("point_id", "park_id").toPandas()
    assert a.equals(b)
    assert len(a) > 0


def test_salting_spreads_hot_keys(spark):
    pts = _with_cell_id(world.points_df(spark, SF_TEST))
    hot = salting.hot_keys(pts, "cell_id", threshold=1)
    assert hot  # the fixture world is skewed by construction
    salted = salting.salt_probe(pts, "cell_id", hot, 4, "point_id")
    n_salts = (salted.where(F.col("cell_id").isin(hot))
               .select("_salt").distinct().count())
    assert n_salts > 1


def test_sessionize_matches_batch_oracle(spark):
    """sessionize_batch ≡ a pandas gap-split over the same events:
    every user's sessions, the trailing one included."""
    import pandas as pd

    path = f"{SF_TEST}/events.parquet"
    got = (sessions.sessionize_batch(spark.read.parquet(path))
           .orderBy("user_id", "session_start").toPandas()
           .reset_index(drop=True))

    ev = pd.read_parquet(path).sort_values(["user_id", "ts", "event_id"])
    gap = pd.Timedelta(seconds=sessions.SESSION_GAP_S)
    rows = []
    for uid, g in ev.groupby("user_id"):
        new_sess = (g["ts"].diff() > gap).cumsum()
        rows.extend((uid, s["ts"].iloc[0], s["ts"].iloc[-1], len(s))
                    for _, s in g.groupby(new_sess))
    want = (pd.DataFrame(rows, columns=[
        "user_id", "session_start", "session_end", "n_events"])
        .sort_values(["user_id", "session_start"]).reset_index(drop=True))
    assert len(got) == len(want) > 0
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert (pd.to_datetime(got["session_start"]).to_numpy()
            == pd.to_datetime(want["session_start"]).to_numpy()).all()
    assert (pd.to_datetime(got["session_end"]).to_numpy()
            == pd.to_datetime(want["session_end"]).to_numpy()).all()

def test_hourly_rollup_restart_from_checkpoint(spark, tmp_path):
    """Windowed-aggregation restart recovery (the stateful counterpart
    of the pages-stream restart test): drain half the event files,
    stop, deliver the rest, restart from the SAME checkpoint — the
    complete-mode output must equal the batch rollup over everything,
    with per-group event COUNTS exact (counts catch both loss and
    replay of a file)."""
    import os

    from greenexp_r_spark.streaming import events_stream as ES

    events = spark.read.parquet(f"{SF_TEST}/events.parquet")
    indir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)

    def deliver(cond, tag):
        d = f"{indir}/{tag}_stage"
        events.where(cond).repartition(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(f"{d}/{f}", f"{indir}/{tag}_{f}")

    def drain(name):
        q = (ES.hourly_rollup_stream(spark, indir)
             .writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table(name).toPandas()

    deliver("event_id % 2 = 0", "p1")
    first = drain("rollup_restart1")
    assert len(first) > 0
    deliver("event_id % 2 = 1", "p2")
    got = drain("rollup_restart2")

    from pyspark.sql import functions as F
    want = (events.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 1000000).cast("long"))
                 .alias("value_sum_micros"))
            .select(F.col("w.start").alias("hour"), "event_type",
                    "n_events", "value_sum_micros").toPandas())
    cols = ["hour", "event_type", "n_events", "value_sum_micros"]
    a = got[cols].sort_values(cols[:2], ignore_index=True)
    b = want[cols].sort_values(cols[:2], ignore_index=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
