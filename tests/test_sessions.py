"""Batch sessionization (operators/sessions.py): DuckDB bit-parity
and gap semantics on a hand fixture (the pandas gap-split oracle is in
tests/test_streaming_salting.py)."""

from __future__ import annotations

import datetime as dt

from greenexp_r_spark.operators import sessions as SS

from .oracle_harness import compare


def test_sessionize_matches_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = SS.sessionize_batch(ev)
    compare(got, SS.sessionize_sql(), sf_dir)
    assert got.count() > 0


def test_gap_semantics_fixture(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid)

    rows = [ev(1, 7, 0), ev(2, 7, 30), ev(3, 7, 95),   # 65' gap → new
            ev(4, 7, 100), ev(5, 9, 0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long")
    out = {(r["user_id"], r["sess_seq"]):
           (r["n_events"], r["session_start"], r["session_end"])
           for r in SS.sessionize_batch(df, gap_s=3600).collect()}
    assert out[(7, 1)] == (2, t0, t0 + dt.timedelta(minutes=30))
    assert out[(7, 2)] == (2, t0 + dt.timedelta(minutes=95),
                           t0 + dt.timedelta(minutes=100))
    assert out[(9, 1)][0] == 1
    assert len(out) == 3

