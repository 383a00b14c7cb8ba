"""Batch sessionization of the events table — gap-based session
windows as two analytic passes over ONE user-keyed shuffle.

A session breaks when the inactivity gap exceeds ``gap_s``.  Classic
two-window shape —

  1. ``new_sess`` flag: lag(ts) over (user ORDER BY ts, event_id)
  2. ``sess_seq``: running SUM of the flag over the same order

— both windows share the partitioning, so Spark plans ONE exchange on
user_id and reuses the sort; the final per-session rollup is a hash
aggregate on (user_id, sess_seq).  At 100 TB this is the right plan:
a single user-keyed shuffle, no self-joins, skew bounded by the
busiest user (per-user event counts are human-bounded).

Exactness: gap arithmetic on epoch MICROsecond BIGINTs
(unix_micros ≡ DuckDB epoch_us), ROWS frames made explicit (the
default RANGE frame would merge tied sort keys — the order is total
here, but implicit frames are an engine-parity trap), counts BIGINT.
tests/test_sessions.py pins DuckDB bit-parity.

Reference analog: none in GreenExp_R (LLM-pipeline brief).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SESSION_GAP_S = 3600           # inactivity gap that closes a session


def sessionize_batch(events: DataFrame,
                     gap_s: int = SESSION_GAP_S) -> DataFrame:
    """(user_id, sess_seq, session_start, session_end, n_events) —
    one session row per (user, gap-delimited run of events)."""
    gap_us = gap_s * 1_000_000
    # the parquet ts is TIMESTAMP_NTZ; unix_micros needs an instant —
    # under the repo's UTC session the cast is value-identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    flagged = events.select(
        "user_id", "event_id", "ts",
        F.when(prev.isNull() | ((us - prev) > gap_us), 1)
        .otherwise(0).alias("new_sess"))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = flagged.select(
        "user_id", "ts",
        F.sum("new_sess").over(run).cast("long").alias("sess_seq"))
    return (seq.groupBy("user_id", "sess_seq")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).cast("long").alias("n_events")))


def sessionize_sql(gap_s: int = SESSION_GAP_S,
                   table: str = "events") -> str:
    """DuckDB rendering of :func:`sessionize_batch` (bit-exact)."""
    gap_us = gap_s * 1_000_000
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM {table}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seq AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_seq
  FROM flagged
)
SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM seq GROUP BY user_id, sess_seq
"""
